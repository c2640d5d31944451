package graft

import org.scalatest.funsuite.AnyFunSuite

/** Documentation-rot guard: every ```json config block in docs/USAGE.md
  * must DECODE under the real JsonCodec — a typo'd key, a renamed
  * option, or a key removed from the engine turns the cookbook into a
  * lie, and the codec's unknown-key rejection catches exactly that.
  * (Semantics are gated elsewhere — most cookbook shapes have a qNNN
  * twin; this test pins the documented SYNTAX to the decoder.) */
class DocsSpec extends AnyFunSuite {

  private lazy val usage: String = new String(
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("docs/USAGE.md")), "UTF-8")

  private lazy val blocks: Seq[(Int, String)] = {
    val re = "(?s)```json\\n(.*?)```".r
    re.findAllMatchIn(usage).map(_.group(1)).zipWithIndex
      .map { case (b, i) => (i, b) }.toSeq
  }

  /** The "Node keys" table of docs/USAGE.md. */
  private lazy val nodeKeysTable: String = usage.split("### Node keys")(1).split("\n### ")(0)

  test("docs/USAGE.md: every json config block decodes under JsonCodec") {
    assert(blocks.size >= 25, s"expected the cookbook blocks, found ${blocks.size}")
    val failures = blocks.flatMap { case (i, b) =>
      try { graft.spec.JsonCodec.parse(b); None }
      catch { case e: Exception =>
        Some(s"block $i (${b.trim.linesIterator.next().take(60)}): ${e.getMessage}")
      }
    }
    assert(failures.isEmpty,
      s"stale cookbook configs:\n${failures.mkString("\n")}")
  }

  test("docs/USAGE.md: every operator registry key has a Node keys row") {
    val rows = "(?m)^\\| `([a-z_0-9]+)` \\|".r.findAllMatchIn(nodeKeysTable)
      .map(_.group(1)).toSet
    val missing = graft.compile.Operators.all.map(_.key).filterNot(rows)
    assert(missing.isEmpty, s"registry keys without a Node keys row: ${missing.mkString(", ")}")
  }

  test("docs/USAGE.md: every key a Node keys row names is a known node key") {
    val named = "(?m)^\\| ([^|]*) \\|".r.findAllMatchIn(nodeKeysTable)
      .flatMap(m => "`([a-z_0-9]+)`".r.findAllMatchIn(m.group(1)).map(_.group(1))).toSeq
    assert(named.size > 80, s"expected the Node keys rows, found ${named.size} keys")
    val stale = named.filter { k =>
      try { graft.spec.JsonCodec.parseNode(s"""{"$k": null}"""); false }
      catch { case e: IllegalArgumentException if e.getMessage.contains("unknown key") => true }
    }
    assert(stale.isEmpty, s"Node keys rows naming no node key: ${stale.mkString(", ")}")
  }
}
