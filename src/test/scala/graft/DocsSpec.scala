package graft

import org.scalatest.funsuite.AnyFunSuite

/** Documentation-rot guard: every ```json config block in docs/USAGE.md
  * must DECODE under the real JsonCodec — a typo'd key, a renamed
  * option, or a key removed from the engine turns the cookbook into a
  * lie, and the codec's unknown-key rejection catches exactly that.
  * (Semantics are gated elsewhere — most cookbook shapes have a qNNN
  * twin; this test pins the documented SYNTAX to the decoder.) */
class DocsSpec extends AnyFunSuite {

  private lazy val blocks: Seq[(Int, String)] = {
    val text = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("docs/USAGE.md")),
      "UTF-8")
    val re = "(?s)```json\\n(.*?)```".r
    re.findAllMatchIn(text).map(_.group(1)).zipWithIndex
      .map { case (b, i) => (i, b) }.toSeq
  }

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
    val usage = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("docs/USAGE.md")),
      "UTF-8")
    val table = usage.split("### Node keys")(1).split("\n### ")(0)
    val rows = "(?m)^\\| `([a-z_0-9]+)` \\|".r.findAllMatchIn(table).map(_.group(1)).toSet
    val missing = graft.compile.Operators.all.map(_.key).filterNot(rows)
    assert(missing.isEmpty, s"registry keys without a Node keys row: ${missing.mkString(", ")}")
  }
}
