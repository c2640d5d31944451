package graft

import graft.compile.Compiler
import graft.spec._
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based invariants over random small datasets and configs
  * (SURVEY §5.3): aggregation conservation, filter partitioning, rename
  * bijectivity. Uses plain ScalaCheck generators with fixed seeds (the
  * scalatest-scalacheck bridge artifact isn't in the offline cache).
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def forAll[A](g: Gen[A], n: Int = 10)(body: A => Unit): Unit =
    (0 until n).foreach { i =>
      body(g.pureApply(Gen.Parameters.default, Seed(i.toLong)))
    }

  private def forAll2[A, B](ga: Gen[A], gb: Gen[B], n: Int = 10)(body: (A, B) => Unit): Unit =
    (0 until n).foreach { i =>
      body(ga.pureApply(Gen.Parameters.default, Seed(i.toLong)),
        gb.pureApply(Gen.Parameters.default, Seed(1000L + i)))
    }

  private val rowsGen: Gen[List[(String, Int, Double)]] =
    Gen.nonEmptyListOf(for {
      k <- Gen.oneOf("a", "b", "c", "d")
      id <- Gen.chooseNum(-1000, 1000)
      v <- Gen.chooseNum(-1000, 1000).map(_ / 8.0) // dyadic → exact sums
    } yield (k, id, v))

  test("groupBy sum conserves the total") {
    forAll(rowsGen) { rows =>
      val df = rows.toDF("k", "id", "v")
      val grouped = Compiler.applyAggregate(df,
        AggregateSpec(Seq("k"), Seq(AggSpec("v", "sum", Some("sv")))))
      val total = grouped.agg(sum("sv")).collect().head.getDouble(0)
      assert(math.abs(total - rows.map(_._3).sum) < 1e-9)
    }
  }

  test("filter(p) and filter(not p) partition the rows") {
    forAll2(rowsGen, Gen.chooseNum(-100, 100)) { (rows, cut) =>
      val df = rows.toDF("k", "id", "v")
      val p = ColFilter("id", ">", JInt(cut))
      val notP = ColFilter("id", "<=", JInt(cut))
      val n1 = df.filter(Compiler.filterColumn(p)).count()
      val n2 = df.filter(Compiler.filterColumn(notP)).count()
      assert(n1 + n2 == rows.size)
    }
  }

  test("rename preserves row count and data, changes only the header") {
    forAll(rowsGen) { rows =>
      val df = rows.toDF("k", "id", "v")
      val out = Compiler.compileNode(spark,
        NodeSpec(id = "n", ops = Seq(RenameSpec(Seq("k" -> "key", "v" -> "value")))),
        input = Some(df))
      assert(out.columns.toSeq == Seq("key", "id", "value"))
      assert(out.count() == rows.size)
      assert(out.agg(sum("value")).collect().head.getDouble(0) ==
        df.agg(sum("v")).collect().head.getDouble(0))
    }
  }

  test("cascade of two sum levels equals one global sum") {
    forAll(rowsGen) { rows =>
      val df = rows.toDF("k", "id", "v")
      df.createOrReplaceTempView("prop_src")
      val out = Compiler.compile(spark, CascadePipeline(CascadeSpec(
        SourceSpec(table = Some("prop_src")),
        Seq(IterationSpec("i", Seq(
          NodeSpec(id = "l1", ops = Seq(
            AggregateSpec(Seq("k"), Seq(AggSpec("v", "sum", Some("sv")))))),
          NodeSpec(id = "l2", ops = Seq(
            AggregateSpec(Nil, Seq(AggSpec("sv", "sum", Some("total")))))))))
      )))
      val total = out.collect().head.getDouble(0)
      assert(math.abs(total - rows.map(_._3).sum) < 1e-9)
    }
  }

  private val textGen: Gen[String] =
    Gen.listOf(Gen.oneOf("alpha", "beta", "gamma", "delta", "x", "yz", "the", "of"))
      .map(_.mkString(" "))

  test("fingerprints: equal token sequences ⇔ equal fp; both variants agree on equality") {
    forAll2(textGen, textGen, n = 8) { (t1, t2) =>
      val toks1 = t1.trim.split("\\s+").filter(_.nonEmpty).toSeq
      val toks2 = t2.trim.split("\\s+").filter(_.nonEmpty).toSeq
      val row = Seq((t1, t2)).toDF("a", "b").select(
        graft.ops.TextAnalysis.fingerprint($"a").as("fa"),
        graft.ops.TextAnalysis.fingerprint($"b").as("fb"),
        graft.ops.TextAnalysis.fingerprintPortable($"a").as("pa"),
        graft.ops.TextAnalysis.fingerprintPortable($"b").as("pb")).collect().head
      if (toks1 == toks2) { // same sequence must fingerprint identically
        assert(row.getLong(0) == row.getLong(1) && row.getLong(2) == row.getLong(3))
      } else { // both variants must agree on the (in)equality verdict
        assert((row.getLong(0) == row.getLong(1)) == (row.getLong(2) == row.getLong(3)))
      }
    }
  }

  test("text-kernel ASCII fast paths equal the general (reference) paths") {
    // r21 opt: PortableFingerprint / WindowFingerprints / NormalizeText
    // gained byte-loop fast paths for all-ASCII input. This pins them
    // against the original char/Normalizer formulations on strings
    // mixing ASCII words, controls, space runs, and non-ASCII (é, a
    // combining sequence NFC must compose, CJK) — the mixed cases land
    // in both branches across the sample.
    import org.apache.spark.unsafe.types.UTF8String
    val M = 1000000007L
    def isWs(c: Char) =
      c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'
    def refFp(s: String): Long = { // the pre-r21 char/codePoint loop
      var fp = 0L; var i = 0
      while (i < s.length) {
        if (isWs(s.charAt(i))) i += 1
        else {
          var h = 7L
          while (i < s.length && !isWs(s.charAt(i))) {
            val cp = s.codePointAt(i)
            h = (h * 131L + cp) % M
            i += Character.charCount(cp)
          }
          fp = (fp * 31L + h) % M
        }
      }
      fp
    }
    def refNorm(s: String): String = { // the pre-r21 Normalizer path
      val lower = java.text.Normalizer
        .normalize(s, java.text.Normalizer.Form.NFC)
        .toLowerCase(java.util.Locale.ROOT)
      val sb = new StringBuilder
      var prevSpace = true
      lower.foreach { c0 =>
        val c = if (c0 < ' ' || c0 == '\u007f') ' ' else c0
        if (c == ' ') { if (!prevSpace) { sb.append(' '); prevSpace = true } }
        else { sb.append(c); prevSpace = false }
      }
      var end = sb.length
      if (end > 0 && sb.charAt(end - 1) == ' ') end -= 1
      sb.substring(0, end)
    }
    val piece = Gen.oneOf("alpha", "Beta", "x\tY", "étude", "é",
      "中文", "a  b", "\u0001ctl", "Zz\u007f", "", " ")
    val mixedGen = Gen.listOf(piece).map(_.mkString(" "))
    forAll(mixedGen, n = 40) { s =>
      val u = UTF8String.fromString(s)
      assert(graft.functions.TextKernelOps.compute(u) == refFp(s))
      assert(graft.functions.NormalizeTextOps.compute(u).toString == refNorm(s))
      // window fingerprints: first token-hash tier must match refFp on
      // single tokens; full arrays compared through the rolling formula
      val wf = graft.functions.WindowFingerprintOps.compute(u, 2)
      // split on exactly the kernel's \s class — String.trim would also
      // strip \u0001 etc. (everything <= 0x20) and break the tie to the
      // kernel's tokenization on control-char-leading tokens
      val toks = s.split("[ \\t\\n\\u000B\\f\\r]+").filter(_.nonEmpty).toSeq
      val th = toks.map(refFp)
      val expect =
        if (th.length < 2) Array.emptyLongArray
        else th.sliding(2).map(w => w.foldLeft(0L)((a, x) => (a * 31L + x) % M)).toArray
      assert((0 until wf.numElements()).map(wf.getLong) == expect.toSeq)
    }
  }

  test("hashedNgrams size equals string-shingle set size on random texts") {
    forAll(textGen, n = 8) { t =>
      for (ng <- Seq(1, 2, 3)) {
        val row = Seq(Tuple1(t)).toDF("text").select(
          size(graft.ops.Dedup.hashedNgrams($"text", ng)).as("h"),
          size(array_distinct(graft.ops.Dedup.shingles($"text", ng))).as("s"))
          .collect().head
        assert(row.getInt(0) == row.getInt(1),
          s"hashed vs string shingle set sizes diverged for n=$ng on '$t'")
      }
    }
  }

  test("exactDedup is idempotent and keeps one row per key") {
    forAll(rowsGen) { rows =>
      val df = rows.toDF("k", "id", "v")
      val once = graft.ops.Dedup.exactDedup(df, Seq("k"), "id")
      val twice = graft.ops.Dedup.exactDedup(once, Seq("k"), "id")
      assert(once.count() == df.select("k").distinct().count())
      assert(once.orderBy("k").collect().toSeq == twice.orderBy("k").collect().toSeq)
    }
  }

  test("int8 quantization round-trip cosine ≥ 0.995 on random vectors") {
    val vecGen: Gen[List[Float]] =
      Gen.listOfN(16, Gen.chooseNum(-100, 100).map(_ / 10.0f)).suchThat(_.exists(_ != 0f))
    forAll(vecGen, n = 8) { v =>
      val c = Seq(Tuple1(v)).toDF("e").select(
        graft.ops.Similarity.cosine(
          $"e", graft.ops.Similarity.dequantizeInt8(
            graft.ops.Similarity.quantizeInt8($"e"))).as("c"))
        .collect().head.getDouble(0)
      assert(c > 0.995, s"round-trip cosine $c for $v")
    }
  }

  test("filtered aggregate equals filter-then-aggregate") {
    forAll2(rowsGen, Gen.chooseNum(-50, 50)) { (rows, cut) =>
      val df = rows.toDF("k", "id", "v")
      val filteredAgg = Compiler.applyAggregate(df, AggregateSpec(
          Seq("k"), Seq(AggSpec("v", "sum", Some("sv"), filter = Some(s"id > $cut")))))
        .filter(col("sv").isNotNull)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val preFiltered = df.filter(col("id") > cut)
        .groupBy("k").agg(sum("v").as("sv"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(filteredAgg == preFiltered)
    }
  }

  test("BMP codec round-trips arbitrary dimensions and pixel bytes") {
    val dimsGen = for {
      w <- org.scalacheck.Gen.chooseNum(1, 17)
      h <- org.scalacheck.Gen.chooseNum(1, 13)
    } yield (w, h)
    forAll(dimsGen, n = 20) { case (w, h) =>
      // pixels derived deterministically from (w, h) — covers every row
      // padding residue (w mod 4) and both odd/even heights
      val rgb = Array.tabulate(w * h * 3)(i => ((i * 131 + w * 7 + h * 3) % 256).toByte)
      val img = ops.Codecs.decodeBmp(ops.Codecs.encodeBmp(w, h, rgb))
      assert(img.width == w && img.height == h)
      assert(java.util.Arrays.equals(img.rgb, rgb), s"pixel mismatch at ${w}x$h")
      assert(ops.Codecs.parseMeta(ops.Codecs.encodeBmp(w, h, rgb)) == (("bmp", w, h)))
    }
  }

  test("WAV codec round-trips arbitrary PCM16 frames") {
    val gen = for {
      channels <- org.scalacheck.Gen.chooseNum(1, 4)
      frames <- org.scalacheck.Gen.chooseNum(0, 50)
      rate <- org.scalacheck.Gen.oneOf(8000, 16000, 44100)
    } yield (channels, frames, rate)
    forAll(gen, n = 20) { case (channels, frames, rate) =>
      val samples = Array.tabulate(channels * frames)(i =>
        ((i * 2357 + channels * 11) % 65536 - 32768).toShort)
      val a = ops.Codecs.decodeWav(ops.Codecs.encodeWav(rate, channels, samples))
      assert(a.sampleRate == rate && a.channels == channels)
      assert(a.samples.toSeq == samples.toSeq)
      assert(ops.Codecs.parseMeta(ops.Codecs.encodeWav(rate, channels, samples)) ==
        (("wav", frames, channels)))
    }
  }

  test("GIF codec round-trips arbitrary dims, palette sizes and frame counts") {
    val gen = for {
      w <- Gen.chooseNum(1, 40)
      h <- Gen.chooseNum(1, 30)
      nf <- Gen.chooseNum(1, 4)
      ncolors <- Gen.chooseNum(1, 256) // spans mcs 2..8
      seed <- Gen.chooseNum(0, 10000)
    } yield (w, h, nf, ncolors, seed)
    forAll(gen, n = 20) { case (w, h, nf, ncolors, seed) =>
      // a fixed palette of `ncolors` distinct colors, pixels drawn from it
      val pal = Array.tabulate(ncolors)(c =>
        (((c * 37 + 11) % 256) << 16) | (((c * 73 + seed) % 256) << 8) | ((c * 151) % 256))
      val frames = (0 until nf).map { f =>
        Array.tabulate(w * h * 3) { i =>
          val c = pal(((i / 3) * 13 + f * 7 + seed) % ncolors)
          (i % 3 match { case 0 => c >> 16; case 1 => (c >> 8) & 0xff; case _ => c & 0xff }).toByte
        }
      }
      val enc = ops.Gif.encode(w, h, frames)
      val v = ops.Gif.decode(enc)
      assert(v.width == w && v.height == h && v.frames.size == nf)
      v.frames.zip(frames).foreach { case (got, want) =>
        assert(got.toSeq == want.toSeq, s"lossless round-trip ${w}x$h nf=$nf ncolors=$ncolors")
      }
      assert(ops.Codecs.parseMeta(enc) == (("gif", w, h)))
    }
  }

  // Random signature corpora with planted duplicate classes and near
  // misses: the collapsed cluster tier must label EXACTLY like connected
  // components over the full pair list (on ids any pair touches), and
  // label every remaining id as its own singleton cluster.
  private val sigCorpusGen: Gen[List[(Long, Long)]] =
    Gen.chooseNum(10, 60).flatMap { n =>
      Gen.listOfN(n, for {
        base <- Gen.oneOf(0x00ffL, 0x0f0fL, 0x123456789abcdefL, 0x7edcba9876543210L)
        flip <- Gen.chooseNum(0, 66) // 67 outcomes: some exact, some 1-2 bits off, some far
        salt <- Gen.chooseNum(0L, 1L << 40)
      } yield if (flip >= 64) base // duplicate class member
        else if (flip >= 60) base ^ (1L << (flip % 64)) ^ (1L << ((flip * 7) % 64)) // 2 bits
        else if (flip >= 48) base ^ (1L << flip) // 1 bit
        else base ^ salt // scattered
      ).map(_.zipWithIndex.map { case (s, i) => (i.toLong + 1, s) })
    }

  test("hammingClusters equals CC over hammingPairs on random sig corpora") {
    forAll(sigCorpusGen, n = 6) { rows =>
      val sigs = rows.toDF("id", "sig")
      for (maxDist <- Seq(0, 3)) {
        val direct = ops.Dedup.hammingClusters(sigs, "id", "sig", maxDist)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val pairs = ops.Dedup.hammingPairs(sigs, "id", "sig", maxDist)
        val viaPairs = ops.Dedup.dedupClusters(pairs)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        viaPairs.foreach { case (id, c) =>
          assert(direct(id) == c, s"maxDist=$maxDist id=$id: ${direct(id)} != $c") }
        // totality: every id labeled; non-paired ids are their own cluster
        assert(direct.keySet == rows.map(_._1).toSet)
        (direct.keySet -- viaPairs.keySet).foreach { id =>
          assert(direct(id) == id, s"singleton $id got ${direct(id)}") }
      }
    }
  }

  // random web garbage: markup fragments, stray brackets, half entities,
  // quotes — the input class the leniency contract exists for
  private val garbageGen: Gen[String] =
    Gen.listOf(Gen.oneOf(
      "<", ">", "&", "\"", "'", "<!--", "-->", "</", "/>", "=",
      "<script>", "</script>", "<style>", "<title>", "</title>",
      "<a href=", "&amp;", "&#", "&#x", ";", "word", " ", "\t", "\n",
      "é", "日本", " "))
      .map(_.mkString)

  test("html_extract never throws on arbitrary markup garbage; body is ws-normalized") {
    import graft.functions.HtmlKernels.htmlExtract
    forAll(garbageGen, n = 60) { g =>
      val r = Seq(g).toDF("h")
        .select(htmlExtract($"h").as("x"))
        .select($"x.body_text", $"x.links").collect().head
      val body = r.getString(0)
      // leniency: SOME body always comes back (possibly empty), and it is
      // normalized — no leading/trailing ws, no ws runs
      assert(body != null)
      val renorm = body.split("\\s+").filter(_.nonEmpty).mkString(" ")
      assert(body == renorm, s"body not normalized: [$body] from [$g]")
      assert(r.getSeq[String](1) != null)
    }
  }

  private val bytesGen: Gen[Array[Byte]] =
    Gen.listOf(Gen.chooseNum(Byte.MinValue, Byte.MaxValue)).map(_.toArray)

  test("gzip: gunzip∘gzip is identity on arbitrary bytes; members concatenate") {
    forAll2(bytesGen, bytesGen, n = 30) { (a, b) =>
      assert(graft.functions.GzipOps.gunzip(graft.functions.GzipOps.gzip(a)).toSeq
        == a.toSeq)
      assert(graft.functions.GzipOps.gunzip(
        graft.functions.GzipOps.gzip(a) ++ graft.functions.GzipOps.gzip(b)).toSeq
        == (a ++ b).toSeq)
    }
  }

  test("warc: arbitrary binary payloads round-trip through record framing") {
    forAll2(bytesGen, bytesGen, n = 20) { (a, b) =>
      def rec(t: String, payload: Array[Byte]): Array[Byte] =
        (s"WARC/1.0\r\nWARC-Type: $t\r\nContent-Length: ${payload.length}\r\n\r\n")
          .getBytes("ISO-8859-1") ++ payload ++ "\r\n\r\n".getBytes("ISO-8859-1")
      val rows = Seq(rec("response", a) ++ rec("request", b)).toDF("c")
        .select(explode(graft.functions.WarcKernels.warcRecords($"c")).as("r"))
        .select($"r.warc_type", $"r.payload").collect()
      assert(rows.length == 2)
      assert(rows(0).getAs[Array[Byte]](1).toSeq == a.toSeq)
      assert(rows(1).getAs[Array[Byte]](1).toSeq == b.toSeq)
    }
  }

  private val rawBytesGen: Gen[Array[Byte]] =
    Gen.listOf(Gen.chooseNum(-128, 127).map(_.toByte)).map(_.toArray)

  test("rc4 is an involution and key-sensitive on random payloads") {
    val keyGen = Gen.nonEmptyListOf(Gen.chooseNum(-128, 127).map(_.toByte)).map(_.toArray)
    forAll2(keyGen, rawBytesGen, n = 12) { (k, data) =>
      val enc = graft.functions.PdfOps.rc4(k, data)
      assert(graft.functions.PdfOps.rc4(k, enc).toSeq == data.toSeq,
        "rc4(rc4(x)) must be x")
      if (data.nonEmpty) {
        val k2 = k.clone(); k2(0) = (k2(0) ^ 1).toByte
        assert(graft.functions.PdfOps.rc4(k2, enc).toSeq != data.toSeq ||
          data.forall(_ == 0) || data.length < 4,
          "a flipped key bit must not decrypt (beyond tiny/degenerate payloads)")
      }
    }
  }

  test("http dechunk inverts random chunkings of random bodies") {
    // chunk a body at random cut points, with extensions on some sizes —
    // dechunk must reassemble the exact bytes for EVERY chunking
    forAll2(rawBytesGen, Gen.chooseNum(1, 7), n = 12) { (body, step) =>
      val out = new java.io.ByteArrayOutputStream()
      var i = 0
      var chunkIdx = 0
      while (i < body.length) {
        val len = math.min(1 + (step + chunkIdx) % 9, body.length - i)
        val ext = if (chunkIdx % 3 == 0) ";x=1" else ""
        out.write(s"${len.toHexString}$ext\r\n".getBytes("ISO-8859-1"))
        out.write(body, i, len)
        out.write("\r\n".getBytes("ISO-8859-1"))
        i += len
        chunkIdx += 1
      }
      out.write("0\r\nSome-Trailer: v\r\n\r\n".getBytes("ISO-8859-1"))
      assert(graft.functions.HttpOps.dechunk(out.toByteArray).toSeq == body.toSeq)
    }
  }

  test("pdf RunLengthDecode inverts a run-length encoder on random bytes") {
    def rlEncode(b: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      var i = 0
      while (i < b.length) {
        // find run of equal bytes
        var j = i + 1
        while (j < b.length && b(j) == b(i) && j - i < 127) j += 1
        if (j - i >= 2) { out.write(257 - (j - i)); out.write(b(i)); i = j }
        else {
          // literal run up to 128 bytes, stopping before a ≥3-run
          var k = i + 1
          while (k < b.length && k - i < 128 &&
            !(k + 2 < b.length && b(k) == b(k + 1) && b(k + 1) == b(k + 2))) k += 1
          out.write(k - i - 1)
          out.write(b, i, k - i)
          i = k
        }
      }
      out.write(128) // EOD
      out.toByteArray
    }
    forAll(rawBytesGen, n = 15) { b =>
      assert(graft.functions.PdfOps.runLengthDecodeBytes(rlEncode(b)).toSeq == b.toSeq)
    }
  }

  test("tar: build→parse round-trips arbitrary members (names, binary payloads)") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val memberGen: Gen[List[(String, Array[Byte])]] =
      Gen.nonEmptyListOf(for {
        stem <- Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.take(20).mkString)
        long <- Gen.oneOf(false, false, true) // occasionally force GNU 'L'
        ext <- Gen.oneOf("txt", "json", "bin")
        sz <- Gen.chooseNum(0, 1500)
        seed <- Gen.chooseNum(0, 255)
      } yield (
        (if (long) "p/" * 60 else "") + stem + "." + ext,
        Array.tabulate[Byte](sz)(i => ((i * 31 + seed) & 0xFF).toByte)))
    forAll(memberGen, n = 12) { members0 =>
      // unique names (the WebDataset contract tarShards sorts by)
      val members = members0.zipWithIndex.map { case ((n0, d), i) => (s"$i-$n0", d) }
      val tar = graft.functions.TarOps.build(new GenericArrayData(
        members.map { case (n0, d) =>
          new GenericInternalRow(Array[Any](UTF8String.fromString(n0), d))
        }.toArray[AnyRef]))
      assert(tar.length % 10240 == 0, "record-size padding")
      val parsed = graft.functions.TarOps.compute(tar)
      assert(parsed.numElements() == members.size)
      members.zipWithIndex.foreach { case ((n0, d), i) =>
        val r = parsed.getStruct(i, 3)
        assert(r.getUTF8String(0).toString == n0)
        assert(r.getLong(1) == d.length.toLong)
        assert(java.util.Arrays.equals(r.getBinary(2), d))
      }
    }
  }

  test("winnowing: selected fps are a subset of the window stream; floor guarantee holds") {
    val textGen: Gen[(String, String, String)] = for {
      a <- Gen.listOfN(30, Gen.oneOf("aa", "bb", "cc", "dd", "ee")).map(_.mkString(" "))
      b <- Gen.listOfN(30, Gen.oneOf("ff", "gg", "hh", "ii", "jj")).map(_.mkString(" "))
      shared <- Gen.listOfN(11, Gen.oneOf("kk", "ll", "mm", "nn")).map(_.mkString(" "))
    } yield (s"$a $shared", s"$shared $b", shared)
    forAll(textGen, n = 10) { case (t1, t2, _) =>
      val df = Seq((1L, t1), (2L, t2)).toDF("id", "txt")
      val idx = graft.ops.Dedup.winnowIndex(df, "id", "txt", 8, 4)
        .collect().map(r => (r.getLong(0), r.getLong(2)))
      // subset of the full window stream
      val full = df.select(col("id"), explode(graft.functions.TextKernels
          .windowFingerprints(col("txt"), 8)).as("fp"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(idx.toSet.subsetOf(full))
      // the 11-token (= w+k-1) shared block must collide
      val shared = idx.filter(_._1 == 1L).map(_._2).toSet
        .intersect(idx.filter(_._1 == 2L).map(_._2).toSet)
      assert(shared.nonEmpty, "winnowing floor guarantee must fire")
    }
  }

  test("ngram buckets: count is 2n-1, values in range, prefix-stable under append") {
    val textGen = Gen.nonEmptyListOf(
      Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.take(6).mkString))
      .map(_.take(20))
    forAll(textGen, n = 12) { toks =>
      val t = toks.mkString(" ")
      val buckets = Seq(Tuple1(t)).toDF("t")
        .select(graft.functions.ClassifierKernels.hashedNgramBuckets(col("t"), 64))
        .collect()(0).getSeq[Int](0)
      assert(buckets.size == (if (toks.size >= 2) 2 * toks.size - 1 else toks.size))
      assert(buckets.forall(b => b >= 0 && b < 64))
      // appending a token preserves the existing unigram prefix
      val more = Seq(Tuple1(t + " zz9")).toDF("t")
        .select(graft.functions.ClassifierKernels.hashedNgramBuckets(col("t"), 64))
        .collect()(0).getSeq[Int](0)
      assert(more.take(toks.size) == buckets.take(toks.size),
        "unigram buckets are prefix-stable under append")
    }
  }

  test("url_host is idempotent-stable: host of a rebuilt URL is the host itself") {
    import graft.ops.TextAnalysis
    val hostGen = for {
      a <- Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.take(8).mkString)
      b <- Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.take(6).mkString)
      port <- Gen.chooseNum(1, 65535)
      user <- Gen.oneOf("", "u:p@")
      scheme <- Gen.oneOf("http", "https", "ftp")
    } yield (s"$a.$b.com", s"$scheme://$user${a.toUpperCase}.$b.COM:$port/x?y#z")
    forAll(hostGen, n = 15) { case (expect, url) =>
      val got = Seq(Tuple1(url)).toDF("u")
        .select(TextAnalysis.urlHost(col("u"))).collect()(0).getString(0)
      assert(got == expect, s"$url -> $got != $expect")
      val again = Seq(Tuple1(s"http://$got/")).toDF("u")
        .select(TextAnalysis.urlHost(col("u"))).collect()(0).getString(0)
      assert(again == got, "host extraction must be stable under rebuild")
    }
  }

  private val docsGen: Gen[List[(Long, String, Int)]] =
    Gen.nonEmptyListOf(for {
      id <- Gen.chooseNum(1L, 100000L)
      g <- Gen.oneOf("web", "code")
      t <- Gen.chooseNum(1, 500)
    } yield (id, g, t)).map(_.distinctBy(_._1))

  test("tokenBudgetSample: samples NEST — a larger budget contains the smaller") {
    import graft.ops.Corpus
    forAll2(docsGen, Gen.chooseNum(100L, 20000L), n = 8) { (rows, b1) =>
      val df = rows.toDF("id", "g", "t")
      def kept(b: Long): Set[Long] =
        Corpus.tokenBudgetSample(df, "g", "id", "t",
            Seq("web" -> b, "code" -> b / 2))
          .select("id").collect().map(_.getLong(0)).toSet
      val small = kept(b1)
      val large = kept(b1 * 3)
      assert(small.subsetOf(large),
        "the prefix order is budget-independent, so samples must nest")
    }
  }

  test("sequencePack: all three modes conserve the token MULTISET") {
    import graft.ops.Pack
    val arrGen: Gen[List[(Long, List[Int])]] =
      Gen.nonEmptyListOf(for {
        id <- Gen.chooseNum(1L, 100000L)
        ids <- Gen.listOf(Gen.chooseNum(1, 999)).map(_.take(14))
      } yield (id, ids)).map(_.distinctBy(_._1))
    forAll(arrGen, n = 8) { rows =>
      val df = rows.toDF("id", "ids")
      // seqLen 16 > max doc len 14 + EOS: no truncation anywhere, so
      // every mode must ship exactly the input tokens + one EOS per doc
      val want = (rows.flatMap(_._2) ++ List.fill(rows.size)(0)).sorted
      def toks(mode: String, dropLast: Boolean) =
        Pack.sequencePack(df, "id", "ids", seqLen = 16, shards = 3,
            mode = mode, dropLast = dropLast)
          .select(explode(col("ids"))).collect().map(_.getInt(0)).toList.sorted
      assert(toks("split", dropLast = false) == want)
      assert(toks("whole", dropLast = false) == want)
      assert(toks("best_fit", dropLast = true) == want,
        "best_fit has no stream tail: dropLast must not drop anything")
    }
  }

  test("chunkBySegments: random paragraphs — order-preserving, whole segments, greedy bound") {
    import graft.ops.Corpus
    val caseGen: Gen[(List[(Long, List[Int])], Int)] = for {
      rows <- Gen.nonEmptyListOf(for {
        id <- Gen.chooseNum(1L, 100000L)
        // paragraph lengths in words; some exceed any small size budget
        lens <- Gen.listOf(Gen.chooseNum(1, 9)).map(_.take(12))
      } yield (id, lens)).map(_.distinctBy(_._1))
      size <- Gen.chooseNum(3, 14)
    } yield (rows, size)
    forAll(caseGen, n = 8) { case (rows, size) =>
      val df = rows.map { case (id, lens) =>
        (id, lens.zipWithIndex.map { case (l, p) =>
          (1 to l).map(w => s"d${id}p${p}w$w").mkString(" ")
        }.mkString("\n\n"))
      }.toDF("doc_id", "text")
      val got = Corpus.chunkBySegments(df, "doc_id", "text", size)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
        .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
      rows.foreach { case (id, lens) =>
        val paras = lens.zipWithIndex.map { case (l, p) =>
          (1 to l).map(w => s"d${id}p${p}w$w").mkString(" ") }
        val chunks = got.getOrElse(id, Array.empty)
        // segments survive WHOLE and IN ORDER: re-splitting the chunks on
        // the sep reproduces the paragraph list exactly
        val rebuilt = chunks.flatMap(_._3.split("\n\n", -1)).toList
        assert(rebuilt == paras, "paragraphs must survive whole, in order")
        // greedy bound: a chunk exceeds `size` only as a single oversized
        // segment; and merging a chunk's first segment into its
        // predecessor would have burst the budget (greedy tightness)
        chunks.foreach { c =>
          val segs = c._3.split("\n\n", -1)
          assert(c._4 <= size || segs.length == 1)
        }
        chunks.sliding(2).foreach {
          case Array(a, b) =>
            val bFirst = b._3.split("\n\n", -1).head.split(" ").length
            assert(a._4 + bFirst > size,
              "greedy: next chunk's head segment cannot fit the previous chunk")
          case _ => ()
        }
      }
    }
  }

  test("chunkIds: random arrays reconstruct from stride prefixes; count formula holds") {
    import graft.ops.Corpus
    val caseGen: Gen[(List[(Long, List[Int])], Int, Int)] = for {
      rows <- Gen.nonEmptyListOf(for {
        id <- Gen.chooseNum(1L, 100000L)
        ids <- Gen.listOf(Gen.chooseNum(0, 999)).map(_.take(40))
      } yield (id, ids)).map(_.distinctBy(_._1))
      size <- Gen.chooseNum(2, 12)
      overlap <- Gen.chooseNum(0, size - 1)
    } yield (rows, size, overlap)
    forAll(caseGen, n = 8) { case (rows, size, overlap) =>
      val stride = size - overlap
      val chunked = Corpus.chunkIds(rows.toDF("id", "ids"), "id", "ids",
          size, overlap)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2).toList))
        .groupBy(_._1).view
        .mapValues(_.sortBy(_._2).map(_._3).toList).toMap
      rows.foreach { case (id, ids) =>
        val got = chunked.getOrElse(id, Nil)
        if (ids.isEmpty) assert(got.isEmpty, "empty doc emits no chunks")
        else {
          // count formula: ceil((n - overlap) / stride), min 1
          val wantN = math.max(1,
            math.ceil((ids.size - overlap).toDouble / stride).toInt)
          assert(got.size == wantN, s"chunk count for n=${ids.size}")
          // chunk k is exactly the slice at k*stride
          got.zipWithIndex.foreach { case (c, k) =>
            assert(c == ids.slice(k * stride, k * stride + size))
          }
          // stride prefixes + last chunk reconstruct the document
          val rebuilt = got.init.flatMap(_.take(stride)) ++ got.last
          assert(rebuilt == ids, "chunks must reconstruct the document")
        }
      }
    }
  }

  // ——— whole-config-tree fuzzer ———————————————————————————————————————
  // The compiler is the engine's trust root: every oracle-gated query
  // exercises ONE hand-picked spec, but users compose freely. This fuzzer
  // draws random spec trees over the full relational core — filters,
  // projection, derive, aggregate (plain + salted), child equi-join
  // (plain + salted + prefix), order/limit — and checks the compiled plan
  // against a SECOND interpretation built directly with DataFrame
  // primitives in this test. Any divergence (silently dropped clause,
  // mis-ordered pipeline stage, salt changing semantics) fails with the
  // seed that found it.
  test("random config trees agree with a direct DataFrame interpretation") {
    val factRows: Gen[List[(String, Long, Long, Double)]] =
      Gen.nonEmptyListOf(for {
        k <- Gen.oneOf("a", "b", "c", "d", "e")
        fk <- Gen.chooseNum(1L, 6L)
        id <- Gen.chooseNum(-50L, 50L)
        v <- Gen.chooseNum(-400L, 400L).map(_ / 8.0) // dyadic → exact sums
      } yield (k, fk, id, v))
    val dimRows: Gen[List[(Long, String)]] =
      Gen.listOf(Gen.zip(Gen.chooseNum(1L, 8L), Gen.oneOf("x", "y", "z")))
        .map(_.distinctBy(_._1)) // unique join key: row-multiplicity-free

    final case class Shape(
        cut: Long, opIdx: Int, join: Int, // 0 none, 1 plain, 2 salted, 3 prefixed
        how: String, agg: Boolean, limit: Option[Int])
    val shapeGen: Gen[Shape] = for {
      cut <- Gen.chooseNum(-40L, 40L)
      opIdx <- Gen.chooseNum(0, 2) // > , <= , !=
      join <- Gen.chooseNum(0, 3)
      how <- Gen.oneOf("inner", "left")
      agg <- Gen.oneOf(true, false)
      limit <- Gen.option(Gen.chooseNum(1, 20))
    } yield Shape(cut, opIdx, join, how, agg, limit)

    val caseGen = Gen.zip(factRows, dimRows, shapeGen)
    forAll(caseGen, n = 40) { case (fact, dim, sh) =>
      val fdf = fact.toDF("k", "fk", "id", "v")
      val ddf = dim.toDF("fk", "tag")
      fdf.createOrReplaceTempView("fz_fact")
      ddf.createOrReplaceTempView("fz_dim")
      val op = Seq(">", "<=", "!=")(sh.opIdx)
      val joinJson = sh.join match {
        case 0 => ""
        case 1 => s""","children":[{"id":"d","source":{"table":"fz_dim"},
              "join":{"on":["fk"],"how":"${sh.how}"}}]"""
        case 2 => s""","children":[{"id":"d","source":{"table":"fz_dim"},
              "join":{"on":["fk"],"how":"${sh.how}","salt":3}}]"""
        case 3 => s""","children":[{"id":"d","prefix":true,"source":{"table":"fz_dim"},
              "join":{"on":["fk"],"how":"${sh.how}"}}]"""
      }
      // aggregate runs BEFORE children joins (the documented node order),
      // so group on the join key to keep the composition meaningful
      val aggJson = if (sh.agg)
        s""","aggregate":{"group_by":["fk"],"aggregations":[
             {"col":"v","func":"sum","new_name":"sv"},
             {"col":"*","func":"count","new_name":"n"}]}"""
      else ""
      val orderJson = if (sh.agg) s""","order_by":["fk asc","sv asc"]"""
      else s""","order_by":["fk asc","id asc","v asc","k asc"]"""
      val limitJson = sh.limit.map(l => s""","limit":$l""").getOrElse("")
      val json = s"""
        {"source":{"table":"fz_fact"},
         "derive":{"v2":"v + 1.0"},
         "filters":["id $op ${sh.cut}"]$aggJson$joinJson$orderJson$limitJson}"""
      val got = Compiler.compileJson(spark, json).collect().map(_.toSeq).toSeq

      // the second interpretation, straight DataFrame primitives
      var ref = fdf.withColumn("v2", col("v") + lit(1.0))
        .filter(op match {
          case ">"  => col("id") > sh.cut
          case "<=" => col("id") <= sh.cut
          case "!=" => col("id") =!= sh.cut
        })
      if (sh.agg) ref = ref.groupBy("fk")
        .agg(sum("v").as("sv"), count(lit(1)).as("n"))
      val refJoined = sh.join match {
        case 0 => ref
        case 3 => ref.join(
          ddf.withColumnRenamed("tag", "d_tag"), Seq("fk"), sh.how)
        case _ => ref.join(ddf, Seq("fk"), sh.how) // salt is invisible
      }
      val ordered = (if (sh.agg)
        refJoined.orderBy(col("fk").asc_nulls_first, col("sv").asc_nulls_first)
      else refJoined.orderBy(col("fk").asc_nulls_first, col("id").asc_nulls_first,
        col("v").asc_nulls_first, col("k").asc_nulls_first))
      val limited = sh.limit.map(ordered.limit).getOrElse(ordered)
      val want = limited.collect().map(_.toSeq).toSeq

      // positional equality is safe even under limit: every order tie is
      // content-identical by construction (v2 is determined by v, the dim
      // key is unique so tag is determined by fk, agg keys are distinct),
      // so any tie-break yields the same row sequence
      assert(got == want, s"seed shape $sh\njson: $json")
    }
  }

  test("snapshotDiff on random snapshots equals a brute-force verdict map") {
    import graft.ops.Relational
    val snapGen: Gen[Map[Long, (String, Double)]] =
      Gen.listOf(for {
        id <- Gen.chooseNum(1L, 40L)
        t <- Gen.oneOf("a", "b", "c")
        v <- Gen.chooseNum(0, 8).map(_ / 2.0)
      } yield (id, (t, v))).map(_.toMap)
    forAll2(snapGen, snapGen, n = 15) { (newM, oldM) =>
      val newDf = newM.toSeq.map { case (id, (t, v)) => (id, t, v) }
        .toDF("id", "t", "v")
      val oldDf = oldM.toSeq.map { case (id, (t, v)) => (id, t, v) }
        .toDF("id", "t", "v")
      val got = Relational.snapshotDiff(newDf, oldDf, Seq("id"),
          includeUnchanged = true)
        .collect()
        .map(r => r.getLong(0) ->
          (r.getString(1), Option(r.getSeq[String](2)).map(_.toList)))
        .toMap
      val want = (newM.keySet ++ oldM.keySet).map { id =>
        id -> ((newM.get(id), oldM.get(id)) match {
          case (Some(_), None) => ("added", None)
          case (None, Some(_)) => ("removed", None)
          case (Some(n), Some(o)) =>
            val ch = List("t" -> (n._1 != o._1), "v" -> (n._2 != o._2))
              .collect { case (c, true) => c }
            (if (ch.nonEmpty) "changed" else "unchanged", Some(ch))
          case (None, None) => sys.error("unreachable")
        })
      }.toMap
      assert(got == want, s"new=$newM old=$oldM")
      // idempotence: diffing a snapshot against itself is all-unchanged
      if (newM.nonEmpty) {
        val self = Relational.snapshotDiff(newDf, newDf, Seq("id"),
          includeUnchanged = true).collect()
        assert(self.forall(_.getString(1) == "unchanged"))
        assert(Relational.snapshotDiff(newDf, newDf, Seq("id")).count() == 0)
      }
      // composite key (id, t), compare v only — same brute-force contract
      val newM2 = newM.map { case (id, (t, v)) => (id, t) -> v }
      val oldM2 = oldM.map { case (id, (t, v)) => (id, t) -> v }
      val got2 = Relational.snapshotDiff(newDf, oldDf, Seq("id", "t"),
          compare = Seq("v"), includeUnchanged = true)
        .collect()
        .map(r => (r.getLong(0), r.getString(1)) -> r.getString(2)).toMap
      val want2 = (newM2.keySet ++ oldM2.keySet).map { k =>
        k -> ((newM2.get(k), oldM2.get(k)) match {
          case (Some(_), None) => "added"
          case (None, Some(_)) => "removed"
          case (Some(n), Some(o)) => if (n != o) "changed" else "unchanged"
          case _ => sys.error("unreachable")
        })
      }.toMap
      assert(got2 == want2, s"composite-key diff: new=$newM old=$oldM")
      // ROUND-TRIP LAW: apply(old, diff(new, old, carry)) == new —
      // the property apply_diff exists for, under both delta shapes
      // (changed-only and includeUnchanged)
      val newSet = newM.toSeq.map { case (id, (t, v)) => (id, t, v) }.toSet
      Seq(false, true).foreach { incl =>
        val delta = Relational.snapshotDiff(newDf, oldDf, Seq("id"),
          includeUnchanged = incl, carryNew = true)
        val patched = Relational.applyDiff(oldDf, delta, Seq("id"))
          .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
          .toSet
        assert(patched == newSet,
          s"round-trip (includeUnchanged=$incl) broke: new=$newM old=$oldM")
      }
    }
  }

  test("bm25SearchIndex over random corpora equals bm25TopK through the artifact round trip") {
    import graft.ops.Retrieval
    // random docs from a small vocabulary (term overlap guaranteed),
    // including empty and single-word docs; random multi-term queries
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    def textsGen(minN: Int, maxN: Int, minLen: Int, maxLen: Int): Gen[List[String]] =
      Gen.chooseNum(minN, maxN).flatMap(n =>
        Gen.listOfN(n, Gen.chooseNum(minLen, maxLen).flatMap(len =>
          Gen.listOfN(len, Gen.oneOf(vocab)).map(_.mkString(" ")))))
    val docsGen = textsGen(2, 20, 0, 8)  // empty docs included
    val qsGen = textsGen(1, 4, 1, 3)
    val dir = java.nio.file.Files.createTempDirectory("graft-bm25-fuzz").toString
    var round = 0
    forAll2(docsGen, qsGen, n = 8) { (docTexts0, qTexts) =>
      round += 1
      // an all-empty corpus has no postings — saveBm25Index rejects it
      // BY NAME (gated in RetrievalSpec); keep one real doc here so the
      // round-trip property stays about ranking, not the guard
      val docTexts =
        if (docTexts0.forall(_.isEmpty)) docTexts0 :+ "alpha" else docTexts0
      val docs = docTexts.zipWithIndex
        .map { case (t, i) => ((i + 1).toLong, t) }.toDF("id", "txt")
      val qs = qTexts.zipWithIndex
        .map { case (t, i) => ((i + 1).toLong, t) }.toDF("qid", "qtext")
      def asSet(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
      val idx = s"$dir/r$round"
      Retrieval.saveBm25Index(spark, docs, "id", "txt", idx, buckets = 4)
      assert(
        asSet(Retrieval.bm25SearchIndex(qs, "qid", "qtext", idx, topK = 3)) ==
          asSet(Retrieval.bm25TopK(docs, "id", "txt", qs, "qid", "qtext", topK = 3)),
        s"artifact round trip diverged: docs=$docTexts qs=$qTexts")
    }
  }

  test("bm25Ingest batching law: any batch split of the stream yields the same search results") {
    import graft.ops.Retrieval
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    // HOW the stream was batched must be unobservable: random corpora
    // split at a random batch boundary, streamed through bm25Ingest,
    // must search identically to one in-memory ranking over the union —
    // df/idf/avgdl compute query-shaped at search time, and the delta
    // layout neither drops nor doubles a doc across batches.
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    def textsGen(minN: Int, maxN: Int, minLen: Int, maxLen: Int): Gen[List[String]] =
      Gen.chooseNum(minN, maxN).flatMap(n =>
        Gen.listOfN(n, Gen.chooseNum(minLen, maxLen).flatMap(len =>
          Gen.listOfN(len, Gen.oneOf(vocab)).map(_.mkString(" ")))))
    val caseGen = for {
      seedDocs <- textsGen(1, 4, 1, 6)
      streamed <- textsGen(1, 8, 0, 6) // empty docs ride the stream too
      cut <- Gen.chooseNum(0, 8)
      // in-stream compaction cadence must ALSO be unobservable (None =
      // never; 1 = fold the prior delta on every later batch)
      compactEvery <- Gen.option(Gen.chooseNum(1, 2))
    } yield (seedDocs, streamed, cut, compactEvery)
    val dir = java.nio.file.Files.createTempDirectory("graft-bm25ing-fuzz").toString
    var round = 0
    forAll(caseGen, n = 4) { case (seedDocs0, streamed, cut0, compactEvery) =>
      round += 1
      val seedDocs = // the build guard rejects an all-whitespace seed by name
        if (seedDocs0.forall(_.isEmpty)) seedDocs0 :+ "alpha" else seedDocs0
      val idx = s"$dir/r$round"
      Retrieval.saveBm25Index(spark,
        seedDocs.zipWithIndex.map { case (t, i) => ((i + 1).toLong, t) }
          .toDF("id", "txt"), "id", "txt", idx, buckets = 4)
      val mem = MemoryStream[(Long, String)]
      val q = graft.streaming.Streaming.bm25Ingest(mem.toDF.toDF("id", "txt"),
        "id", "txt", idx, s"$idx-ckpt", compactEvery)
      val rows = streamed.zipWithIndex
        .map { case (t, i) => ((100 + i).toLong, t) }
      val cut = math.min(cut0, rows.size)
      try {
        if (cut > 0) { mem.addData(rows.take(cut): _*); q.processAllAvailable() }
        if (cut < rows.size) { mem.addData(rows.drop(cut): _*); q.processAllAvailable() }
      } finally q.stop()
      val all = (seedDocs.zipWithIndex.map { case (t, i) => ((i + 1).toLong, t) }
        ++ rows).toDF("id", "txt")
      val qs = Seq((1L, "alpha beta"), (2L, "gamma zeta eps")).toDF("qid", "qtext")
      def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
      assert(
        asSet(Retrieval.bm25SearchIndex(qs, "qid", "qtext", idx, topK = 3)) ==
          asSet(Retrieval.bm25TopK(all, "id", "txt", qs, "qid", "qtext", topK = 3)),
        s"batched ingest diverged: seed=$seedDocs streamed=$streamed " +
          s"cut=$cut compactEvery=$compactEvery")
    }
  }

  test("exactIngest batching law: key-level decisions are invariant under any batch split and compaction cadence") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    // HOW the stream was batched — and whether in-stream area folds ran —
    // must be unobservable at the KEY level: each distinct key is
    // admitted exactly once (to corpus AND index), every key appears.
    // WHICH doc id wins a key legitimately depends on the split (the
    // q281 rationale), so the law quantifies over keys, not ids. A tiny
    // vocabulary plants heavy duplicate pressure within and across
    // batches.
    val vocab = Vector("aa", "bb", "cc", "dd")
    val caseGen = for {
      n <- Gen.chooseNum(2, 12)
      texts <- Gen.listOfN(n, Gen.oneOf(vocab))
      cut <- Gen.chooseNum(0, 12)
      compactEvery <- Gen.option(Gen.chooseNum(1, 2))
    } yield (texts, cut, compactEvery)
    val dir = java.nio.file.Files.createTempDirectory("graft-ei-fuzz").toString
    var round = 0
    forAll(caseGen, n = 5) { case (texts, cut0, compactEvery) =>
      round += 1
      val base = s"$dir/r$round"
      val rows = texts.zipWithIndex.map { case (t, i) => ((i + 1).toLong, t) }
      val cut = math.min(cut0, rows.size)
      val mem = MemoryStream[(Long, String)]
      val q = graft.streaming.Streaming.exactIngest(
        mem.toDF.toDF("doc_id", "text"), "doc_id", Seq("text"),
        s"$base/corpus", s"$base/index", s"$base/ckpt", compactEvery)
      try {
        if (cut > 0) { mem.addData(rows.take(cut): _*); q.processAllAvailable() }
        if (cut < rows.size) { mem.addData(rows.drop(cut): _*); q.processAllAvailable() }
      } finally q.stop()
      val want = texts.distinct.sorted
      val corpus = spark.read.parquet(s"$base/corpus")
        .select("text").collect().map(_.getString(0)).toSeq.sorted
      val index = spark.read.parquet(s"$base/index")
        .select("text").collect().map(_.getString(0)).toSeq.sorted
      assert(corpus == want,
        s"corpus keys diverged: texts=$texts cut=$cut ce=$compactEvery got=$corpus")
      assert(index == want,
        s"index keys diverged: texts=$texts cut=$cut ce=$compactEvery got=$index")
    }
  }

  test("asofJoin on random series equals a brute-force per-row scan") {
    import graft.ops.Relational
    val caseGen = for {
      lrows <- Gen.nonEmptyListOf(
        Gen.zip(Gen.chooseNum(1L, 3L), Gen.chooseNum(0L, 50L)))
      rrows <- Gen.listOf(for {
        k <- Gen.chooseNum(1L, 3L)
        ts <- Gen.chooseNum(0L, 50L)
        p <- Gen.chooseNum(0, 99)
      } yield (k, ts, p)).map(_.distinctBy(r => (r._1, r._2)))
      dir <- Gen.oneOf("backward", "forward", "nearest")
      tol <- Gen.option(Gen.chooseNum(0L, 10L))
    } yield (lrows, rrows, dir, tol)
    forAll(caseGen, n = 25) { case (lrows, rrows, dir, tol) =>
      val got = Relational.asofJoin(
          lrows.toDF("k", "ts"), rrows.toDF("k", "ts", "p"),
          Seq("k"), "ts", "ts", Seq("p"),
          direction = dir, tolerance = tol.map(_.toString))
        .select("k", "ts", "p")
        .collect().map(row => (row.getLong(0), row.getLong(1),
          if (row.isNullAt(2)) -1 else row.getInt(2))).sorted.toSeq
      // brute force straight off the documented contract: inclusive
      // bounds, nearest ties -> backward, tolerance nulls the payload
      def bf(k: Long, lts: Long): Int = {
        val cands = rrows.filter(_._1 == k)
        val pick = dir match {
          case "backward" => cands.filter(_._2 <= lts).sortBy(_._2).lastOption
          case "forward"  => cands.filter(_._2 >= lts).sortBy(_._2).headOption
          case _ =>
            val b = cands.filter(_._2 <= lts).sortBy(_._2).lastOption
            val f = cands.filter(_._2 >= lts).sortBy(_._2).headOption
            (b, f) match {
              case (Some(bb), Some(ff)) =>
                if (lts - bb._2 <= ff._2 - lts) Some(bb) else Some(ff)
              case (x, y) => x.orElse(y)
            }
        }
        pick.filter(m => tol.forall(t => math.abs(m._2 - lts) <= t))
          .map(_._3).getOrElse(-1)
      }
      val want = lrows.map { case (k, lts) => (k, lts, bf(k, lts)) }
        .sorted.toSeq
      assert(got == want, s"dir=$dir tol=$tol\nleft=$lrows\nright=$rrows")
    }
  }

  test("profile on random frames equals a brute-force fold, grouped and ungrouped") {
    import graft.ops.Relational
    val rowGen = Gen.nonEmptyListOf(for {
      g <- Gen.oneOf("a", "b", "c")
      v <- Gen.option(Gen.chooseNum(-50L, 50L))
      s <- Gen.option(Gen.oneOf("x", "y", "z"))
    } yield (g, v, s))
    forAll(rowGen, n = 10) { rows =>
      val df = rows.toDF("g", "v", "s")
      def bf(sub: Seq[(String, Option[Long], Option[String])]) = Set(
        ("v", sub.size.toLong, sub.count(_._2.isEmpty).toLong,
          sub.flatMap(_._2).distinct.size.toLong,
          sub.flatMap(_._2).minOption.map(_.toString),
          sub.flatMap(_._2).maxOption.map(_.toString)),
        ("s", sub.size.toLong, sub.count(_._3.isEmpty).toLong,
          sub.flatMap(_._3).distinct.size.toLong,
          sub.flatMap(_._3).minOption, sub.flatMap(_._3).maxOption))
      def key(r: org.apache.spark.sql.Row, o: Int) =
        (r.getString(o), r.getLong(o + 1), r.getLong(o + 2), r.getLong(o + 3),
          Option(r.getString(o + 4)), Option(r.getString(o + 5)))
      val got = Relational.profile(df, Seq("v", "s"))
        .collect().map(key(_, 0)).toSet
      assert(got == bf(rows), s"ungrouped profile wrong for $rows")
      val gotG = Relational.profile(df, Seq("v", "s"), groupCols = Seq("g"))
        .collect().groupBy(_.getString(0))
        .map { case (g, rs) => g -> rs.map(key(_, 1)).toSet }
      val wantG = rows.groupBy(_._1).map { case (g, rs) => g -> bf(rs) }
      assert(gotG == wantG, s"grouped profile wrong for $rows")
    }
  }

  test("connected components on random graphs equal a union-find fold, both paths") {
    import graft.ops.Dedup
    val edgeGen = Gen.nonEmptyListOf(
      Gen.zip(Gen.chooseNum(0L, 20L), Gen.chooseNum(0L, 20L)))
    forAll(edgeGen, n = 6) { edges =>
      // reference: textbook union-find with min-root labels
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
        .map(n => (n, find(n)))
      val df = edges.toDF("idA", "idB")
      for (cutover <- Seq(1L << 20, 0L)) { // driver union-find / distributed loop
        val got = Dedup.dedupClusters(df, smallGraphEdges = cutover)
          .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
        assert(got == want, s"cutover=$cutover edges=$edges")
      }
    }
  }

  test("collocations on random corpora equals a brute-force PMI fold") {
    import graft.ops.TextAnalysis
    val docGen = Gen.listOfN(12,
      Gen.listOf(Gen.oneOf("aa", "bb", "cc", "dd")).map(_.mkString(" ")))
    forAll(docGen, n = 12) { docs =>
      val got = TextAnalysis.collocations(
          docs.toDF("text"), "text", minCount = 1, topK = 10000)
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSeq
      // brute force straight off the documented contract
      val tokd = docs.map(_.split("\\s+").filter(_.nonEmpty).toSeq)
      val nTok = tokd.map(_.size).sum
      val nPair = tokd.map(t => math.max(t.size - 1, 0)).sum
      val uni = tokd.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val pc = tokd.flatMap(t => t.zip(t.drop(1)))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val want = pc.toSeq.map { case ((w1, w2), cxy) =>
        val pmi = BigDecimal(math.log(
            (cxy.toDouble * nTok * nTok) / (nPair.toDouble * uni(w1) * uni(w2))))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        (w1, w2, cxy, pmi)
      }.sortBy(t => (-t._4, t._1, t._2))
      assert(got == want, s"docs=$docs\ngot=$got\nwant=$want")
    }
  }

  test("overlapJoin on random intervals equals a brute-force pair scan") {
    import graft.ops.Relational
    val caseGen = for {
      lrows <- Gen.nonEmptyListOf(for {
        k <- Gen.chooseNum(1L, 3L)
        lo <- Gen.chooseNum(0L, 60L)
        span <- Gen.chooseNum(-2L, 25L) // negative/zero spans: empty/inverted
      } yield (k, lo, lo + span))
      rrows <- Gen.listOf(for {
        k <- Gen.chooseNum(1L, 3L)
        lo <- Gen.chooseNum(0L, 60L)
        span <- Gen.chooseNum(-2L, 25L)
      } yield (k, lo, lo + span))
      bucket <- Gen.oneOf(1.0, 3.0, 7.0, 100.0)
      inclusive <- Gen.oneOf(false, true)
      how <- Gen.oneOf("inner", "left")
    } yield (lrows, rrows, bucket, inclusive, how)
    forAll(caseGen, n = 25) { case (lrows, rrows, bucket, inclusive, how) =>
      val lids = lrows.zipWithIndex.map { case ((k, lo, hi), i) =>
        (i.toLong, k, lo, hi) }
      val rids = rrows.zipWithIndex.map { case ((k, lo, hi), i) =>
        (i.toLong, k, lo, hi) }
      val got = Relational.overlapJoin(
          lids.toDF("lid", "k", "lo", "hi"),
          rids.toDF("rid", "k", "rlo", "rhi"),
          "lo", "hi", bucket, rightLoCol = "rlo", rightHiCol = "rhi",
          on = Seq("k"), payload = Seq("rid"), inclusive = inclusive,
          how = how)
        .select("lid", "rid")
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) -1L else r.getLong(1))).sorted.toSeq
      // brute force straight off the documented contract: half-open
      // l.lo < r.hi && r.lo < l.hi (or <= under inclusive); empty and
      // inverted spans match nothing; how=left pads matchless left rows
      // (NULL/empty spans included) once with NULL payload
      def valid(lo: Long, hi: Long) = if (inclusive) lo <= hi else lo < hi
      val inner = (for {
        (li, lk, llo, lhi) <- lids if valid(llo, lhi)
        (ri, rk, rlo, rhi) <- rids if valid(rlo, rhi) && rk == lk
        if (if (inclusive) llo <= rhi && rlo <= lhi
            else llo < rhi && rlo < lhi)
      } yield (li, ri)).sorted
      val want =
        if (how == "inner") inner
        else {
          val hit = inner.map(_._1).toSet
          (inner ++ lids.collect {
            case (li, _, _, _) if !hit(li) => (li, -1L) }).sorted
        }
      assert(got == want,
        s"bucket=$bucket inclusive=$inclusive how=$how\nleft=$lids\nright=$rids")
    }
  }

  test("funnel on random event streams equals a brute-force fold") {
    import graft.ops.Relational
    val evGen = Gen.nonEmptyListOf(for {
      k <- Gen.chooseNum(1L, 5L)
      t <- Gen.chooseNum(0L, 3600L)
      e <- Gen.oneOf("view", "click", "buy", "noise")
    } yield (k, t, e))
    val winGen = Gen.oneOf(Option.empty[Long], Some(600L), Some(1800L))
    forAll2(evGen, winGen, n = 15) { (rows, winSec) =>
      val df = rows.toDF("k", "sec", "e")
        .withColumn("ts", col("sec").cast("timestamp"))
      val steps = Seq("view", "click", "buy")
      val got = Relational.funnel(df, "k", "ts", "e", steps,
          winSec.map(s => s"${s / 60} minutes"))
        .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
        .sortBy(_._1).toSeq
      // brute force straight off the documented contract: first-anchor,
      // strictly-after chaining, inclusive window against the anchor
      val counts = Array.fill(3)(0L)
      rows.groupBy(_._1).values.foreach { evs =>
        val v = evs.filter(_._3 == "view").map(_._2)
        if (v.nonEmpty) {
          val t0 = v.min
          counts(0) += 1
          var prev = t0
          var alive = true
          Seq("click", "buy").zipWithIndex.foreach { case (s, i) =>
            if (alive) {
              val c = evs.filter(ev => ev._3 == s && ev._2 > prev &&
                winSec.forall(w => ev._2 <= t0 + w)).map(_._2)
              if (c.nonEmpty) { prev = c.min; counts(i + 1) += 1 }
              else alive = false
            }
          }
        }
      }
      val want = steps.zipWithIndex.map { case (s, i) => (i + 1, s, counts(i)) }
      assert(got == want, s"win=$winSec rows=$rows")
    }
  }

  test("resample on random series equals a brute-force grid") {
    import graft.ops.Relational
    val evGen = Gen.nonEmptyListOf(for {
      k <- Gen.chooseNum(1L, 3L)
      sec <- Gen.chooseNum(0L, 2000L)
      v <- Gen.chooseNum(0, 16).map(_ / 4.0) // dyadic → exact sums
    } yield (k, sec, v))
    val fillGen = Gen.oneOf("none", "zero", "ffill")
    val step = 300L
    forAll2(evGen, fillGen, n = 12) { (rows, fill) =>
      val df = rows.toDF("k", "sec", "v")
        .withColumn("ts", col("sec").cast("timestamp"))
      val got = Relational.resample(df, Seq("k"), "ts", "5 minutes",
          Seq((sum(col("v")), "sv"), (count(lit(1)), "n")), fill)
        .collect().map { r =>
          ((r.getLong(0), r.getTimestamp(1).toInstant.getEpochSecond),
            (if (r.isNullAt(2)) None else Some(r.getDouble(2)),
             if (r.isNullAt(3)) None else Some(r.getLong(3))))
        }.toMap
      // brute force: epoch-aligned buckets, per-key [min, max] grid,
      // fill policies applied bucket-by-bucket in order
      val want = rows.groupBy(_._1).flatMap { case (k, evs) =>
        val bucketed = evs.groupBy(e => e._2 - e._2 % step)
        val lo = bucketed.keys.min
        val hi = bucketed.keys.max
        var carry: (Option[Double], Option[Long]) = (None, None)
        (lo to hi by step).map { b =>
          val in = bucketed.getOrElse(b, Nil)
          val obs: (Option[Double], Option[Long]) =
            if (in.nonEmpty) (Some(in.map(_._3).sum), Some(in.size.toLong))
            else (None, None)
          val filled = fill match {
            case "zero"  => (Some(obs._1.getOrElse(0.0)),
                             Some(obs._2.getOrElse(0L)))
            case "ffill" =>
              if (obs._1.isDefined) { carry = obs; obs } else carry
            case _ => obs
          }
          (k, b) -> filled
        }
      }.toMap
      assert(got == want, s"fill=$fill rows=$rows")
    }
  }

  test("random combine trees agree with direct set algebra") {
    val caseGen = Gen.zip(rowsGen, rowsGen, Gen.chooseNum(-30L, 30L))
    forAll(caseGen, n = 8) { case (r1, r2, cut) =>
      val a = r1.toDF("k", "id", "v")
      val b = r2.toDF("k", "id", "v")
      a.createOrReplaceTempView("cz_a")
      b.createOrReplaceTempView("cz_b")
      val fa = a.filter(col("id") > cut)
      val refs = Map(
        "union"          -> fa.unionByName(b),
        "union_distinct" -> fa.unionByName(b).distinct(),
        "intersect"      -> fa.intersect(b),
        "except"         -> fa.except(b))
      refs.foreach { case (op, ref) =>
        val got = Compiler.compileJson(spark, s"""
          {"combine": {"op": "$op", "nodes": [
             {"source": {"table": "cz_a"}, "filters": ["id > $cut"]},
             {"source": {"table": "cz_b"}}]},
           "order_by": ["k asc", "id asc", "v asc"]}""")
          .collect().map(_.toSeq).toSeq
        val want = ref.orderBy(col("k").asc_nulls_first,
          col("id").asc_nulls_first, col("v").asc_nulls_first)
          .collect().map(_.toSeq).toSeq
        assert(got == want, s"op $op, cut $cut")
      }
    }
  }

  test("whitespace_tokens kernel equals the regex split formulation") {
    // r22 opt: TextAnalysis.tokens/tokenCount moved from
    // filter(split(trim(x), "\\s+"), len > 0) to a byte-scan kernel.
    // Pin array equality (values AND order) plus the count kernel
    // against the regex formulation, evaluated through Spark itself
    // (codegen path), on strings mixing every \s separator, runs,
    // leading/trailing ws, non-ASCII (multi-byte UTF-8), NBSP (which
    // is NOT \s and must stay inside a token), controls, and empties.
    val piece = Gen.oneOf("alpha", "B", "x\tY", "\u000Bv", "\fq", "\rw",
      "\n", "  ", "\t\t", "\u00A0", "a\u00A0b", "\u4E2D\u6587", "e\u0301tude",
      "", " lead", "trail ")
    val mixedGen = Gen.listOf(piece).map(_.mkString(""))
    val samples = (0 until 60).map(i =>
      mixedGen.pureApply(Gen.Parameters.default, Seed(i.toLong))) ++
      Seq("", " ", "\t\n\u000B\f\r", "one", " one ", "a b")
    val df = samples.toDF("t")
    val rows = df.select(
        graft.ops.TextAnalysis.tokens(col("t")).as("k"),
        graft.ops.TextAnalysis.tokensReference(col("t")).as("r"),
        graft.ops.TextAnalysis.tokenCount(col("t")).as("kc"),
        size(graft.ops.TextAnalysis.tokensReference(col("t"))).as("rc"))
      .collect()
    rows.foreach { row =>
      assert(row.getSeq[String](0) == row.getSeq[String](1),
        s"tokens mismatch: ${row.getSeq[String](0)} vs ${row.getSeq[String](1)}")
      assert(row.getInt(2) == row.getInt(3))
    }
    // null propagates as null through both (size(null) = null posture)
    val nr = Seq[Option[String]](None).toDF("t")
      .select(graft.ops.TextAnalysis.tokens(col("t")),
        graft.ops.TextAnalysis.tokenCount(col("t"))).head
    assert(nr.isNullAt(0) && nr.isNullAt(1))
  }
}
