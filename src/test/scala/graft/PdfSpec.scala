package graft

import org.apache.spark.sql.functions._

/** PDF extraction kernel gauntlet — the hand-crafted-bytes tier backing
  * q152/q153's corpus gate, mirroring the html_extract gauntlet: every
  * contract line in graft.functions.PdfOps gets a case that would catch
  * its regression (escapes, hex strings, TJ kerning, line-break ops,
  * page-tree order, /Length lies, corrupt deflate, non-PDF degradation).
  */
class PdfSpec extends SparkSpec {

  private val latin = java.nio.charset.StandardCharsets.ISO_8859_1

  private def pdfx(bytes: Array[Byte]): (String, Int, String) = {
    val r = graft.functions.PdfOps.compute(bytes)
    (if (r.isNullAt(0)) null else r.getUTF8String(0).toString,
      r.getInt(1), r.getUTF8String(2).toString)
  }

  /** Minimal hand-written PDF: header + numbered objects, no xref (the
    * scanner never reads one — that IS the lenient contract). */
  private def miniPdf(objs: (Int, String)*): Array[Byte] = {
    val sb = new StringBuilder("%PDF-1.7\n")
    objs.foreach { case (n, body) => sb.append(s"$n 0 obj\n$body\nendobj\n") }
    sb.append("%%EOF\n")
    sb.toString.getBytes(latin)
  }

  private def stream(dict: String, content: String): String =
    s"$dict\nstream\n$content\nendstream"

  private def contentLen(content: String): Int = content.getBytes(latin).length

  /** Two-page skeleton with explicit Kids order and given content
    * streams (page objs 3,5; content objs 4,6). */
  private def twoPage(kids: String, c1: String, c2: String): Array[Byte] =
    miniPdf(
      1 -> "<< /Type /Catalog /Pages 2 0 R >>",
      2 -> s"<< /Type /Pages /Kids [$kids] /Count 2 >>",
      3 -> "<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
      4 -> stream(s"<< /Length ${contentLen(c1)} >>", c1),
      5 -> "<< /Type /Page /Parent 2 0 R /Contents 6 0 R >>",
      6 -> stream(s"<< /Length ${contentLen(c2)} >>", c2))

  test("pdf round-trip: builder fixture → version, page count, exact text") {
    val bytes = graft.queries.TextQueries.textToPdf("7", "hello world")
    assert(pdfx(bytes) == ("1.4", 2, "Doc 7!\nhello world\np. 2 (end)"))
  }

  test("pdf literal-string escapes: named, octal, continuation, nested parens") {
    val c = "BT 0 0 Td (a\\(b\\)c \\\\ \\101\\102 (nested (deep)) end\\\n cont) Tj ET"
    val (_, _, t) = pdfx(twoPage("3 0 R 5 0 R", c, "BT ET"))
    assert(t == "a(b)c \\ AB (nested (deep)) end cont")
  }

  test("pdf escape sequences \\n \\r \\t and unknown escapes") {
    val c = "BT 0 0 Td (x\\ny\\tz\\q) Tj ET"
    val (_, _, t) = pdfx(twoPage("3 0 R 5 0 R", c, "BT ET"))
    assert(t == "x\ny\tz" + "q")
  }

  test("pdf hex strings: whitespace ignored, odd length zero-padded") {
    val c = "BT 0 0 Td <48 65 6C6C 6F> Tj ET"
    val (_, _, t) = pdfx(twoPage("3 0 R 5 0 R", c, "BT ET"))
    assert(t == "Hello")
    val odd = "BT 0 0 Td <5> Tj ET" // 0x50 = P
    assert(pdfx(twoPage("3 0 R 5 0 R", odd, "BT ET"))._3 == "P")
  }

  test("pdf TJ array: strings shown in order, kerning numbers invisible") {
    val c = "BT 0 0 Td [(He) -120 (llo) 50 ( wo) (rld)] TJ ET"
    assert(pdfx(twoPage("3 0 R 5 0 R", c, "BT ET"))._3 == "Hello world")
  }

  test("pdf line breaks: Td/TD/T*/' start lines; leading Td adds none") {
    val c = "BT /F1 9 Tf 10 10 Td (l1) Tj 0 -14 TD (l2) Tj T* (l3) Tj (l4) ' ET"
    assert(pdfx(twoPage("3 0 R 5 0 R", c, "BT ET"))._3 == "l1\nl2\nl3\nl4")
  }

  test("pdf quote operator \" shows its string on a new line") {
    val c = "BT 0 0 Td (a) Tj 2 1 (b) \" ET"
    assert(pdfx(twoPage("3 0 R 5 0 R", c, "BT ET"))._3 == "a\nb")
  }

  test("pdf text outside BT/ET is invisible; inline dicts and comments skipped") {
    val c = "(ghost) Tj BT % comment (not text)\n" +
      "/P << /MCID 0 >> BDC 0 0 Td (real) Tj EMC ET (ghost2) Tj"
    assert(pdfx(twoPage("3 0 R 5 0 R", c, "BT ET"))._3 == "real")
  }

  test("pdf page-tree order wins over object order") {
    val c1 = "BT 0 0 Td (first-obj) Tj ET"
    val c2 = "BT 0 0 Td (second-obj) Tj ET"
    // Kids reversed: page 5 (content c2) renders before page 3
    val (_, n, t) = pdfx(twoPage("5 0 R 3 0 R", c1, c2))
    assert(n == 2 && t == "second-obj\nfirst-obj")
  }

  test("pdf /Length lies → lenient endstream scan still delimits") {
    val c = "BT 0 0 Td (len-lies) Tj ET"
    val bytes = miniPdf(
      1 -> "<< /Type /Catalog /Pages 2 0 R >>",
      2 -> "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      3 -> "<< /Type /Page /Contents 4 0 R >>",
      4 -> stream("<< /Length 999999 >>", c))
    assert(pdfx(bytes) == ("1.7", 1, "len-lies"))
  }

  test("pdf FlateDecode roundtrip and corrupt deflate degrades to invisible") {
    val raw = "BT 0 0 Td (flated) Tj ET".getBytes(latin)
    val d = new java.util.zip.Deflater()
    d.setInput(raw); d.finish()
    val buf = new Array[Byte](256)
    val bos = new java.io.ByteArrayOutputStream()
    while (!d.finished()) bos.write(buf, 0, d.deflate(buf))
    val fl = new String(bos.toByteArray, latin)
    val good = miniPdf(
      1 -> "<< /Type /Catalog /Pages 2 0 R >>",
      2 -> "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      3 -> "<< /Type /Page /Contents 4 0 R >>",
      4 -> stream(s"<< /Length ${bos.size} /Filter /FlateDecode >>", fl))
    assert(pdfx(good) == ("1.7", 1, "flated"))
    val bad = miniPdf(
      1 -> "<< /Type /Catalog /Pages 2 0 R >>",
      2 -> "<< /Type /Pages /Kids [3 0 R 5 0 R] /Count 2 >>",
      3 -> "<< /Type /Page /Contents 4 0 R >>",
      4 -> stream("<< /Length 9 /Filter /FlateDecode >>", "garbage!!"),
      5 -> "<< /Type /Page /Contents 6 0 R >>",
      6 -> stream("<< /Length 24 >>", "BT 0 0 Td (alive) Tj ET "))
    // corrupt page contributes nothing; the file still extracts
    assert(pdfx(bad) == ("1.7", 2, "alive"))
  }

  test("pdf unsupported filter is invisible, not an error") {
    val bytes = miniPdf(
      1 -> "<< /Type /Catalog /Pages 2 0 R >>",
      2 -> "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      3 -> "<< /Type /Page /Contents 4 0 R >>",
      4 -> stream("<< /Length 4 /Filter /DCTDecode >>", "ÿØaa"))
    assert(pdfx(bytes) == ("1.7", 1, ""))
  }

  test("pdf broken page tree falls back to BT streams in document order") {
    val c1 = "BT 0 0 Td (s1) Tj ET"
    val c2 = "BT 0 0 Td (s2) Tj ET"
    val bytes = miniPdf( // no catalog at all
      4 -> stream(s"<< /Length ${contentLen(c1)} >>", c1),
      6 -> stream(s"<< /Length ${contentLen(c2)} >>", c2))
    assert(pdfx(bytes) == ("1.7", 2, "s1\ns2"))
  }

  test("pdf /Type /Pages does not count as a /Type /Page (delimiter bound)") {
    val c = "BT 0 0 Td (one) Tj ET"
    val bytes = miniPdf(
      1 -> "<< /Type /Catalog /Pages 2 0 R >>",
      2 -> "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      3 -> "<< /Type /Page /Contents 4 0 R >>",
      4 -> stream(s"<< /Length ${contentLen(c)} >>", c))
    assert(pdfx(bytes)._2 == 1)
  }

  test("pdf page-tree cycle is guarded, not an infinite loop") {
    val bytes = miniPdf(
      1 -> "<< /Type /Catalog /Pages 2 0 R >>",
      2 -> "<< /Type /Pages /Kids [2 0 R 3 0 R] /Count 1 >>",
      3 -> "<< /Type /Page /Contents 4 0 R >>",
      4 -> stream("<< /Length 22 >>", "BT 0 0 Td (ok) Tj ET  "))
    assert(pdfx(bytes) == ("1.7", 1, "ok"))
  }

  test("pdf 1.5 object streams: packed catalog/page dicts resolve through ObjStm") {
    // the modern-writer layout: catalog, pages node and page dict live
    // INSIDE a FlateDecode'd /Type /ObjStm; only the content stream is a
    // top-level object. A scanner without ObjStm expansion sees no page
    // tree at all.
    val inner = Seq(
      1 -> "<< /Type /Catalog /Pages 2 0 R >>",
      2 -> "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      3 -> "<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>")
    val bodies = inner.map(_._2)
    val offsets = bodies.scanLeft(0)((acc, b) => acc + b.length + 1).init
    val header = inner.map(_._1).zip(offsets)
      .map { case (n, o) => s"$n $o" }.mkString(" ") + "\n"
    val payload = (header + bodies.mkString("\n") + "\n").getBytes(latin)
    val first = header.length
    val d = new java.util.zip.Deflater()
    d.setInput(payload); d.finish()
    val buf = new Array[Byte](1024)
    val bos = new java.io.ByteArrayOutputStream()
    while (!d.finished()) bos.write(buf, 0, d.deflate(buf))
    val objStm = new String(bos.toByteArray, latin)
    val content = "BT 0 0 Td (from objstm) Tj ET"
    val bytes = ("%PDF-1.5\n" +
      s"9 0 obj\n<< /Type /ObjStm /N 3 /First $first " +
      s"/Length ${bos.size} /Filter /FlateDecode >>\nstream\n" + objStm +
      "\nendstream\nendobj\n" +
      s"4 0 obj\n<< /Length ${contentLen(content)} >>\nstream\n" + content +
      "\nendstream\nendobj\n%%EOF\n").getBytes(latin)
    assert(pdfx(bytes) == ("1.5", 1, "from objstm"))
    // corrupt ObjStm degrades to the BT fallback, never throws
    val bad = ("%PDF-1.5\n" +
      "9 0 obj\n<< /Type /ObjStm /N 3 /First 20 /Length 7 " +
      "/Filter /FlateDecode >>\nstream\nnotzlib\nendstream\nendobj\n" +
      s"4 0 obj\n<< /Length ${contentLen(content)} >>\nstream\n" + content +
      "\nendstream\nendobj\n%%EOF\n").getBytes(latin)
    assert(pdfx(bad) == ("1.5", 1, "from objstm"))
  }

  test("pdf non-PDF and empty inputs degrade; NULL propagates via the expression") {
    assert(pdfx("not a pdf at all".getBytes(latin)) == (null, 0, ""))
    assert(pdfx(Array.emptyByteArray) == (null, 0, ""))
    val df = spark.range(1).select(
      graft.functions.PdfKernels.pdfExtract(lit(null).cast("binary")).as("p"))
    assert(df.select(col("p")).head.isNullAt(0))
  }

  test("pdf multiple /Contents streams concatenate with a token break") {
    val c1 = "BT 0 0 Td (part1) Tj"
    val c2 = "(part2) Tj ET"
    val bytes = miniPdf(
      1 -> "<< /Type /Catalog /Pages 2 0 R >>",
      2 -> "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      3 -> "<< /Type /Page /Contents [4 0 R 5 0 R] >>",
      4 -> stream(s"<< /Length ${contentLen(c1)} >>", c1),
      5 -> stream(s"<< /Length ${contentLen(c2)} >>", c2))
    assert(pdfx(bytes) == ("1.7", 1, "part1part2"))
  }

  test("pdf_extract config key decodes and names missing fields") {
    val spec = graft.spec.JsonCodec.parseNode("""
      {"id": "p",
       "pdf_extract": {"id_col": "doc_id", "pdf_col": "pdf"}}""")
    assert(spec.op[graft.spec.PdfExtractSpec].contains(graft.spec.PdfExtractSpec("doc_id", "pdf")))
    val err = intercept[IllegalArgumentException] {
      graft.spec.JsonCodec.parseNode("""{"pdf_extract": {"id_col": "doc_id"}}""")
    }
    assert(err.getMessage.contains("pdf_col"))
  }

  test("pdf_extract routes from sniff_mime and runs under whole-stage codegen") {
    import graft.functions.{PdfKernels, SniffKernels}
    // parquet-backed (a local relation would fold at plan time): even ids
    // carry PDFs, odd ids HTML — the mixed-lake shape sniff_mime routes
    val toPdf = udf(graft.queries.TextQueries.textToPdf)
    val src = Tables.load(spark, sf, "documents").limit(20)
      .select(col("doc_id"),
        when(col("doc_id") % 2 === 0,
          toPdf(col("doc_id").cast("string"), col("text")))
          .otherwise(concat(lit("<html><body>"), col("text"), lit("</body></html>"))
            .cast("binary")).as("payload"))
    val dir = java.nio.file.Files.createTempDirectory("graft_pdf_route").toString
    src.write.mode("overwrite").parquet(dir)
    val routed = spark.read.parquet(dir)
      .withColumn("mime", SniffKernels.sniffMime(col("payload")))
      .filter(col("mime") === "application/pdf")
      .select(col("doc_id"), PdfKernels.pdfExtract(col("payload")).as("p"))
      .select(col("doc_id"), col("p.text").as("text"))
    val rows = routed.collect()
    assert(rows.length == 10 && rows.forall(_.getLong(0) % 2 == 0))
    val expected = Tables.load(spark, sf, "documents").limit(20)
      .filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"),
        concat(lit("Doc "), col("doc_id"), lit("!\n"), col("text"),
          lit("\np. 2 (end)")).as("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.forall(r => expected(r.getLong(0)) == r.getString(1)))
    // the kernel call sits inside a WholeStageCodegen span (scan-stage
    // posture — q152's 100 TB shape)
    assert(routed.queryExecution.executedPlan
      .exists(_.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec]))
  }

  // ------------------------------------------------------- fonts / CMaps

  private def cmapStream(body: String): String =
    stream(s"<< /Length ${contentLen(body)} >>", body)

  test("pdf /ToUnicode bfchar + bfrange: shifted bytes decode; non-ASCII lands exact") {
    val bytes = graft.queries.TextQueries.textToPdfCMap("7", "hello world")
    assert(pdfx(bytes) == ("1.4", 2,
      "Doc 7!\u20ac\nhello world\np. 2 (end) \u2014"))
  }

  test("pdf bfrange ARRAY form maps each code to its own target") {
    val cm = "1 begincodespacerange <00> <FF> endcodespacerange\n" +
      "1 beginbfrange <01> <03> [<0041> <004B> <03A9>] endbfrange"
    val c = "BT /F1 9 Tf 0 0 Td <010203> Tj ET"
    val bytes = miniPdf(
      1 -> "<< /Type /Catalog /Pages 2 0 R >>",
      2 -> "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      3 -> ("<< /Type /Page /Resources << /Font << /F1 5 0 R >> >> " +
        "/Contents 4 0 R >>"),
      4 -> stream(s"<< /Length ${contentLen(c)} >>", c),
      5 -> "<< /Type /Font /Subtype /Type1 /ToUnicode 6 0 R >>",
      6 -> cmapStream(cm))
    assert(pdfx(bytes) == ("1.7", 1, "AK\u03a9"))
  }

  test("pdf Type0 two-byte codes: mapped pairs decode, unmapped glyph ids stay invisible") {
    val cm = "1 begincodespacerange <0000> <FFFF> endcodespacerange\n" +
      "2 beginbfchar <0041> <2264> <0105> <0106> endbfchar"
    val c = "BT /F1 9 Tf 0 0 Td <004101050099> Tj ET"
    val bytes = miniPdf(
      1 -> "<< /Type /Catalog /Pages 2 0 R >>",
      2 -> "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      3 -> ("<< /Type /Page /Resources << /Font << /F1 5 0 R >> >> " +
        "/Contents 4 0 R >>"),
      4 -> stream(s"<< /Length ${contentLen(c)} >>", c),
      5 -> "<< /Type /Font /Subtype /Type0 /ToUnicode 6 0 R >>",
      6 -> cmapStream(cm))
    // 0x0041 -> U+2264, 0x0105 -> U+0106, 0x0099 unmapped -> invisible
    assert(pdfx(bytes) == ("1.7", 1, "\u2264\u0106"))
  }

  test("pdf Type0 WITHOUT a ToUnicode CMap: glyph ids are invisible, not mojibake") {
    val c = "BT /F1 9 Tf 0 0 Td <00410042> Tj ET"
    val bytes = miniPdf(
      1 -> "<< /Type /Catalog /Pages 2 0 R >>",
      2 -> "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      3 -> ("<< /Type /Page /Resources << /Font << /F1 5 0 R >> >> " +
        "/Contents 4 0 R >>"),
      4 -> stream(s"<< /Length ${contentLen(c)} >>", c),
      5 -> "<< /Type /Font /Subtype /Type0 /BaseFont /X >>")
    assert(pdfx(bytes) == ("1.7", 1, ""))
  }

  test("pdf WinAnsi and MacRoman base encodings; unknown Tf name keeps Latin-1") {
    val c = "BT /F1 9 Tf 0 0 Td <93418094> Tj " +
      "/F2 9 Tf <A5416de9> Tj /Nope 9 Tf <416defe9> Tj ET"
    val bytes = miniPdf(
      1 -> "<< /Type /Catalog /Pages 2 0 R >>",
      2 -> "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      3 -> ("<< /Type /Page /Resources << /Font << /F1 5 0 R /F2 6 0 R >> >> " +
        "/Contents 4 0 R >>"),
      4 -> stream(s"<< /Length ${contentLen(c)} >>", c),
      5 -> "<< /Type /Font /Subtype /Type1 /Encoding /WinAnsiEncoding >>",
      6 -> "<< /Type /Font /Subtype /Type1 /Encoding /MacRomanEncoding >>")
    // WinAnsi: 93 -> left curly quote, 80 -> euro, 94 -> right curly quote;
    // MacRoman: A5 -> bullet, e9 -> e-acute's MacRoman slot is 0x8E, so
    // e9 here is MacRoman \u00e8? no: MacRoman 0xE9 -> \u00c8. Latin-1
    // fallback for /Nope shows raw bytes.
    assert(pdfx(bytes) == ("1.7", 1,
      "\u201cA\u20ac\u201d" + "\u2022Am\u00c8" + "Am\u00ef\u00e9"))
  }

  test("pdf resources inherit from the /Pages ancestor when the page has none") {
    val cm = "1 beginbfchar <58> <2713> endbfchar"
    val c = "BT /F1 9 Tf 0 0 Td <58> Tj ET"
    val bytes = miniPdf(
      1 -> "<< /Type /Catalog /Pages 2 0 R >>",
      2 -> ("<< /Type /Pages /Kids [3 0 R] /Count 1 " +
        "/Resources << /Font << /F1 5 0 R >> >> >>"),
      3 -> "<< /Type /Page /Contents 4 0 R >>",
      4 -> stream(s"<< /Length ${contentLen(c)} >>", c),
      5 -> "<< /Type /Font /Subtype /Type1 /ToUnicode 6 0 R >>",
      6 -> cmapStream(cm))
    assert(pdfx(bytes) == ("1.7", 1, "\u2713"))
  }

  test("pdf font state persists across BT blocks until the next Tf") {
    val cm = "1 beginbfchar <41> <0042> endbfchar"
    val c = "BT /F1 9 Tf 0 0 Td <41> Tj ET BT 0 0 Td <41> Tj ET"
    val bytes = miniPdf(
      1 -> "<< /Type /Catalog /Pages 2 0 R >>",
      2 -> "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      3 -> ("<< /Type /Page /Resources << /Font << /F1 5 0 R >> >> " +
        "/Contents 4 0 R >>"),
      4 -> stream(s"<< /Length ${contentLen(c)} >>", c),
      5 -> "<< /Type /Font /Subtype /Type1 /ToUnicode 6 0 R >>",
      6 -> cmapStream(cm))
    assert(pdfx(bytes) == ("1.7", 1, "B\nB"))
  }

  test("pdf duplicated /Kids ref yields one page, not two (shared cycle guard)") {
    val c = "BT 0 0 Td (once) Tj ET"
    val bytes = miniPdf(
      1 -> "<< /Type /Catalog /Pages 2 0 R >>",
      2 -> "<< /Type /Pages /Kids [3 0 R 3 0 R] /Count 2 >>",
      3 -> "<< /Type /Page /Contents 4 0 R >>",
      4 -> stream(s"<< /Length ${contentLen(c)} >>", c))
    assert(pdfx(bytes) == ("1.7", 1, "once"))
  }

  test("pdf FDICT (preset-dictionary) zlib stream degrades without hanging") {
    // zlib header 78 BB sets FDICT; Inflater reports needsDictionary()
    // with zero progress forever — the kernel must break out, not spin
    val fdict = "\u0078\u00bb\u0001\u0002\u0003\u0004"
    val bytes = miniPdf(
      1 -> "<< /Type /Catalog /Pages 2 0 R >>",
      2 -> "<< /Type /Pages /Kids [3 0 R 5 0 R] /Count 2 >>",
      3 -> "<< /Type /Page /Contents 4 0 R >>",
      4 -> stream(s"<< /Length 6 /Filter /FlateDecode >>", fdict),
      5 -> "<< /Type /Page /Contents 6 0 R >>",
      6 -> stream("<< /Length 23 >>", "BT 0 0 Td (ok) Tj ET   "))
    assert(pdfx(bytes) == ("1.7", 2, "ok"))
  }

  // ------------------------------------------------------ stream filters

  /** PDF-LZW encoder (test-side twin of PdfOps.lzwDecodeBytes):
    * MSB-first, Clear=256/EOD=257, EarlyChange=1 — the encoder widens
    * after assigning entry `next-1` when `next - 1 + early >= 2^w`,
    * keeping it one dictionary entry ahead of the decoder. */
  private def lzwEncode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var bitBuf = 0L; var bitCnt = 0; var codeSize = 9
    def emit(code: Int): Unit = {
      bitBuf = (bitBuf << codeSize) | code; bitCnt += codeSize
      while (bitCnt >= 8) { out.write(((bitBuf >>> (bitCnt - 8)) & 0xff).toInt); bitCnt -= 8 }
    }
    val dict = scala.collection.mutable.HashMap.empty[(Int, Byte), Int]
    var next = 258
    emit(256) // Clear
    var cur = -1
    data.foreach { b =>
      if (cur < 0) cur = b & 0xff
      else dict.get((cur, b)) match {
        case Some(c) => cur = c
        case None =>
          emit(cur)
          dict((cur, b)) = next; next += 1
          if (next - 1 + 1 >= (1 << codeSize) && codeSize < 12) codeSize += 1
          if (next == 4095) { // table nearly full: reset (decoder mirrors)
            emit(256); dict.clear(); next = 258; codeSize = 9
          }
          cur = b & 0xff
      }
    }
    if (cur >= 0) emit(cur)
    emit(257) // EOD
    if (bitCnt > 0) out.write(((bitBuf << (8 - bitCnt)) & 0xff).toInt)
    out.toByteArray
  }

  test("pdf LZWDecode extracts identically to its Flate twin across width growth") {
    // enough distinct words to push the dictionary past the 9->10 and
    // 10->11 bit boundaries — a wrong early-change schedule garbles here
    val longText = (0 until 900).map(i => s"w$i").mkString(" ")
    val content = s"BT 0 0 Td ($longText) Tj ET"
    val raw = content.getBytes(latin)
    // decoder round-trip at the byte level first
    val packed = lzwEncode(raw)
    val unpacked = graft.functions.PdfOps.lzwDecodeBytes(packed, 1)
    assert(unpacked != null && java.util.Arrays.equals(unpacked, raw),
      "LZW round-trip mismatch")
    val lzw = new String(packed, latin)
    def onePage(filter: String, body: String, extra: String = "") = miniPdf(
      1 -> "<< /Type /Catalog /Pages 2 0 R >>",
      2 -> "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      3 -> "<< /Type /Page /Contents 4 0 R >>",
      4 -> stream(s"<< /Length ${contentLen(body)} /Filter $filter$extra >>", body))
    val viaLzw = pdfx(onePage("/LZWDecode", lzw))
    // Flate twin of the same content
    val d = new java.util.zip.Deflater(); d.setInput(raw); d.finish()
    val buf = new Array[Byte](raw.length + 64)
    val bos = new java.io.ByteArrayOutputStream()
    while (!d.finished()) bos.write(buf, 0, d.deflate(buf))
    d.end()
    val viaFlate = pdfx(onePage("/FlateDecode", new String(bos.toByteArray, latin)))
    assert(viaLzw == viaFlate && viaLzw._3 == longText)
    // truncated LZW degrades to a prefix, never throws
    val cut = new String(java.util.Arrays.copyOf(packed, packed.length / 2), latin)
    val (_, _, partial) = pdfx(onePage("/LZWDecode", cut))
    assert(longText.startsWith(partial.stripPrefix("")) || partial.isEmpty ||
      longText.contains(partial.takeWhile(_ != 0)), "truncation must degrade")
  }

  test("pdf ASCII85Decode and ASCIIHexDecode streams extract") {
    // base-85 computed independently (Python base64.a85encode, adobe)
    val a85 = "<~6<#']+>=p;A0<:/3&MgsCFLB*C*5rE~>"
    val bytes = miniPdf(
      1 -> "<< /Type /Catalog /Pages 2 0 R >>",
      2 -> "<< /Type /Pages /Kids [3 0 R 5 0 R] /Count 2 >>",
      3 -> "<< /Type /Page /Contents 4 0 R >>",
      4 -> stream(s"<< /Length ${a85.length} /Filter /ASCII85Decode >>", a85),
      5 -> "<< /Type /Page /Contents 6 0 R >>",
      6 -> stream("<< /Length 50 /Filter /ASCIIHexDecode >>",
        "4254203020302054642028636861696E65642920546A204554"))
    assert(pdfx(bytes) == ("1.7", 2, "a85 ok\nchained"))
  }

  test("pdf chained /Filter [/ASCII85Decode /FlateDecode] applies in order") {
    val a85z = "<~Garg^;(r!eO;%kXjG_%$][RWiKodhhf+7p]1'Zb~>"
    val bytes = miniPdf(
      1 -> "<< /Type /Catalog /Pages 2 0 R >>",
      2 -> "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      3 -> "<< /Type /Page /Contents 4 0 R >>",
      4 -> stream(s"<< /Length ${a85z.length} /Filter [/ASCII85Decode /FlateDecode] >>", a85z))
    assert(pdfx(bytes) == ("1.7", 1, "chained"))
    // an unsupported filter anywhere in the chain keeps the stream invisible
    val bad = miniPdf(
      1 -> "<< /Type /Catalog /Pages 2 0 R >>",
      2 -> "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      3 -> "<< /Type /Page /Contents 4 0 R >>",
      4 -> stream(s"<< /Length ${a85z.length} /Filter [/ASCII85Decode /DCTDecode] >>", a85z))
    assert(pdfx(bad) == ("1.7", 1, ""))
  }

  test("pdf /Differences glyph-name encoding: remapped codes decode, unknown names fall through") {
    // glyph-name resolution unit cases first
    import graft.functions.PdfOps.glyphText
    assert(glyphText("A") == "A" && glyphText("z") == "z")
    assert(glyphText("seven") == "7" && glyphText("comma") == ",")
    assert(glyphText("Euro") == "€" && glyphText("emdash") == "—")
    assert(glyphText("uni20AC") == "€" && glyphText("u1F600") == "😀")
    assert(glyphText("gXYZ") == null && glyphText("uniZZZZ") == null)
    // a subset font remapping codes 65('A')→/e, 66('B')→/uni20AC (then
    // sequential: 67→/m), 97('a')→/seven, atop WinAnsi base (0x93 = “)
    val content = "BT /F1 9 Tf 0 0 Td (ABC a q) Tj ET"
    val bytes = miniPdf(
      1 -> "<< /Type /Catalog /Pages 2 0 R >>",
      2 -> "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      3 -> ("<< /Type /Page /Contents 4 0 R " +
        "/Resources << /Font << /F1 5 0 R >> >> >>"),
      4 -> stream(s"<< /Length ${contentLen(content)} >>", content),
      5 -> ("<< /Type /Font /Subtype /Type1 /BaseFont /FAAAAA+Foo " +
        "/Encoding << /BaseEncoding /WinAnsiEncoding " +
        "/Differences [ 65 /e /uni20AC /m 97 /seven /unknownglyph ] >> >>"))
    // 'A'→e, 'B'→€, 'C'→m, 'a'→7; 'b' (98, /unknownglyph) falls through
    // to WinAnsi identity 'b'... not present; 0x93/0x94 take WinAnsi “ ”
    assert(pdfx(bytes) == ("1.7", 1, "e€m 7 “q”"))
    // an /Encoding REF to a dict object resolves the same way
    val viaRef = miniPdf(
      1 -> "<< /Type /Catalog /Pages 2 0 R >>",
      2 -> "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      3 -> ("<< /Type /Page /Contents 4 0 R " +
        "/Resources << /Font << /F1 5 0 R >> >> >>"),
      4 -> stream(s"<< /Length ${contentLen(content)} >>", content),
      5 -> "<< /Type /Font /Subtype /Type1 /Encoding 6 0 R >>",
      6 -> "<< /Differences [ 65 /e /uni20AC /m 97 /seven ] >>")
    assert(pdfx(viaRef)._3 == "e€m 7 q") // no base enc: Latin-1 high bytes
  }

  test("pdf RC4 encryption: known-answer vectors; empty-user-password document decrypts; locked degrades") {
    import graft.functions.PdfOps
    // public known-answer vectors first — the round-trip fixtures below
    // reuse the same primitives, so these anchor them externally
    def hex(s: String): Array[Byte] =
      s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    assert(java.util.Arrays.equals(
      PdfOps.rc4("Key".getBytes, "Plaintext".getBytes),
      hex("BBF316E8D940AF0AD3")))
    assert(java.util.Arrays.equals(
      PdfOps.md5("abc".getBytes),
      hex("900150983cd24fb0d6963f7d28e17f72")))
    // build a two-page document, then encrypt it per the standard
    // security handler (R=3, V=2, 128-bit, empty user password)
    val content1 = "BT 0 0 Td (secret page one.) Tj ET"
    val content2 = "BT 0 0 Td (and page two.) Tj ET"
    val id0 = hex("0123456789abcdef0123456789abcdef")
    val oEntry = hex("ff" * 16 + "ee" * 16) // arbitrary owner hash — key input only
    val pPerm = -44L
    val key = PdfOps.deriveKey(oEntry, pPerm, id0, r = 3, lengthBits = 128,
      encryptMetadata = true)
    val uEntry = PdfOps.expectedU(key, id0, 3) ++ Array.fill(16)(0x61.toByte)
    def hexStr(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString
    def encStream(num: Int, content: String): String = {
      val enc = PdfOps.rc4(PdfOps.objectKey(key, num, 0), content.getBytes(latin))
      new String(enc, latin)
    }
    val e1 = encStream(4, content1)
    val e2 = encStream(6, content2)
    val sb = new StringBuilder("%PDF-1.4\n")
    sb.append("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    sb.append("2 0 obj\n<< /Type /Pages /Kids [3 0 R 5 0 R] /Count 2 >>\nendobj\n")
    sb.append("3 0 obj\n<< /Type /Page /Contents 4 0 R >>\nendobj\n")
    sb.append(s"4 0 obj\n<< /Length ${e1.length} >>\nstream\n$e1\nendstream\nendobj\n")
    sb.append("5 0 obj\n<< /Type /Page /Contents 6 0 R >>\nendobj\n")
    sb.append(s"6 0 obj\n<< /Length ${e2.length} >>\nstream\n$e2\nendstream\nendobj\n")
    sb.append(s"7 0 obj\n<< /Filter /Standard /V 2 /R 3 /Length 128 " +
      s"/P $pPerm /O <${hexStr(oEntry)}> /U <${hexStr(uEntry)}> >>\nendobj\n")
    sb.append(s"trailer\n<< /Root 1 0 R /Encrypt 7 0 R " +
      s"/ID [<${hexStr(id0)}> <${hexStr(id0)}>] >>\n%%EOF\n")
    val bytes = sb.toString.getBytes(latin)
    assert(pdfx(bytes) == ("1.4", 2, "secret page one.\nand page two."))
    // a WRONG /U (a real, non-empty user password) degrades to invisible
    val locked = sb.toString.replace(hexStr(uEntry),
      hexStr(uEntry.map(b => (b ^ 0x5a).toByte)))
    assert(pdfx(locked.getBytes(latin)) == ("1.4", 2, ""))
    // R=2 / 40-bit variant round-trips too
    val key2 = PdfOps.deriveKey(oEntry, pPerm, id0, r = 2, lengthBits = 40,
      encryptMetadata = true)
    val u2 = PdfOps.expectedU(key2, id0, 2)
    def enc2(num: Int, content: String): String =
      new String(PdfOps.rc4(PdfOps.objectKey(key2, num, 0),
        content.getBytes(latin)), latin)
    val f1 = enc2(4, content1)
    val sb2 = new StringBuilder("%PDF-1.3\n")
    sb2.append("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    sb2.append("2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n")
    sb2.append("3 0 obj\n<< /Type /Page /Contents 4 0 R >>\nendobj\n")
    sb2.append(s"4 0 obj\n<< /Length ${f1.length} >>\nstream\n$f1\nendstream\nendobj\n")
    sb2.append(s"5 0 obj\n<< /Filter /Standard /V 1 /R 2 " +
      s"/P $pPerm /O <${hexStr(oEntry)}> /U <${hexStr(u2)}> >>\nendobj\n")
    sb2.append(s"trailer\n<< /Root 1 0 R /Encrypt 5 0 R " +
      s"/ID [<${hexStr(id0)}>] >>\n%%EOF\n")
    assert(pdfx(sb2.toString.getBytes(latin)) == ("1.3", 1, "secret page one."))
    // unsupported V (AES) degrades, never throws
    val aes = sb.toString.replace("/V 2 /R 3", "/V 4 /R 4")
    assert(pdfx(aes.getBytes(latin))._3 == "")
  }

  test("pdf AESV2 and AESV3 encryption: empty-user-password documents decrypt; salted keys and R6 hashing") {
    import graft.functions.PdfOps
    def hex(s: String): Array[Byte] =
      s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    def hexStr(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString
    def aesEnc(key: Array[Byte], iv: Array[Byte], data: Array[Byte],
        pad: Boolean): Array[Byte] = {
      val c = javax.crypto.Cipher.getInstance(
        if (pad) "AES/CBC/PKCS5Padding" else "AES/CBC/NoPadding")
      c.init(javax.crypto.Cipher.ENCRYPT_MODE,
        new javax.crypto.spec.SecretKeySpec(key, "AES"),
        new javax.crypto.spec.IvParameterSpec(iv))
      c.doFinal(data)
    }
    val content = "BT 0 0 Td (aes secret text.) Tj ET"
    val iv = (0 until 16).map(i => (i * 11 + 5).toByte).toArray

    // ---- AESV2 (V=4, R=4): Algorithm-2 key + sAlT'ed per-object keys
    val id0 = hex("00112233445566778899aabbccddeeff")
    val oEntry = hex("ab" * 32)
    val p = -3904L
    val k4 = PdfOps.deriveKey(oEntry, p, id0, r = 4, lengthBits = 128,
      encryptMetadata = true)
    val u4 = PdfOps.expectedU(k4, id0, 4) ++ Array.fill(16)(0x00.toByte)
    val objKey4 = PdfOps.md5(k4,
      Array[Byte](4, 0, 0, 0, 0), Array[Byte](0x73, 0x41, 0x6c, 0x54)).take(16)
    val e4 = iv ++ aesEnc(objKey4, iv, content.getBytes(latin), pad = true)
    val sbA = new StringBuilder("%PDF-1.6\n")
    sbA.append("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    sbA.append("2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n")
    sbA.append("3 0 obj\n<< /Type /Page /Contents 4 0 R >>\nendobj\n")
    sbA.append(s"4 0 obj\n<< /Length ${e4.length} >>\nstream\n${new String(e4, latin)}\nendstream\nendobj\n")
    sbA.append("5 0 obj\n<< /Filter /Standard /V 4 /R 4 /Length 128 " +
      "/CF << /StdCF << /CFM /AESV2 /Length 16 >> >> /StmF /StdCF /StrF /StdCF " +
      s"/P $p /O <${hexStr(oEntry)}> /U <${hexStr(u4)}> >>\nendobj\n")
    sbA.append(s"trailer\n<< /Root 1 0 R /Encrypt 5 0 R /ID [<${hexStr(id0)}>] >>\n%%EOF\n")
    assert(pdfx(sbA.toString.getBytes(latin)) == ("1.6", 1, "aes secret text."))

    // ---- AESV3 (V=5, R=6): one AES-256 file key from /UE, 2.B hashing
    val vSalt = hex("0102030405060708")
    val kSalt = hex("1112131415161718")
    val fileKey = (0 until 32).map(i => (i * 13 + 7).toByte).toArray
    val empty = Array.emptyByteArray
    val uHash = PdfOps.hash2B(empty, vSalt)
    val ik = PdfOps.hash2B(empty, kSalt)
    val ue = aesEnc(ik, new Array[Byte](16), fileKey, pad = false)
    val u6 = uHash ++ vSalt ++ kSalt
    val e6 = iv ++ aesEnc(fileKey, iv, content.getBytes(latin), pad = true)
    val sbB = new StringBuilder("%PDF-2.0\n")
    sbB.append("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    sbB.append("2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n")
    sbB.append("3 0 obj\n<< /Type /Page /Contents 4 0 R >>\nendobj\n")
    sbB.append(s"4 0 obj\n<< /Length ${e6.length} >>\nstream\n${new String(e6, latin)}\nendstream\nendobj\n")
    sbB.append("5 0 obj\n<< /Filter /Standard /V 5 /R 6 /Length 256 " +
      "/CF << /StdCF << /CFM /AESV3 /Length 32 >> >> /StmF /StdCF /StrF /StdCF " +
      s"/P -4 /O <${hexStr(Array.fill(48)(0x31.toByte))}> " +
      s"/OE <${hexStr(Array.fill(32)(0x32.toByte))}> " +
      s"/U <${hexStr(u6)}> /UE <${hexStr(ue)}> >>\nendobj\n")
    sbB.append("trailer\n<< /Root 1 0 R /Encrypt 5 0 R >>\n%%EOF\n")
    assert(pdfx(sbB.toString.getBytes(latin)) == ("2.0", 1, "aes secret text."))
    // wrong validation hash (a real user password) degrades
    val lockedB = sbB.toString.replace(hexStr(uHash),
      hexStr(uHash.map(b => (b ^ 0x11).toByte)))
    assert(pdfx(lockedB.getBytes(latin))._3 == "")
  }

  test("pdf RunLengthDecode: literal+repeat runs, EOD stops, truncation degrades") {
    // byte-level kernel first: runs hand-assembled per PDF 32000 §7.4.5
    def rl(bs: Int*): Array[Byte] = bs.map(_.toByte).toArray
    val enc = rl(2, 'a', 'b', 'c') ++ rl(254, 'x') ++ rl(0, '!') // abc xxx !
    assert(new String(graft.functions.PdfOps.runLengthDecodeBytes(enc), latin)
      == "abcxxx!")
    // EOD (128) ends decoding even with trailing garbage
    val withEod = rl(1, 'h', 'i', 128, 0, 'Z')
    assert(new String(graft.functions.PdfOps.runLengthDecodeBytes(withEod), latin)
      == "hi")
    // truncated literal run copies what's there
    assert(new String(graft.functions.PdfOps.runLengthDecodeBytes(rl(5, 'q')), latin)
      == "q")
    // whole-document path: content stream through /RunLengthDecode
    val content = "BT 0 0 Td (run length ok) Tj ET"
    val raw = content.getBytes(latin)
    val encoded = new java.io.ByteArrayOutputStream()
    raw.grouped(127).foreach { chunk =>
      encoded.write(chunk.length - 1); encoded.write(chunk)
    }
    encoded.write(128)
    val body = new String(encoded.toByteArray, latin)
    val bytes = miniPdf(
      1 -> "<< /Type /Catalog /Pages 2 0 R >>",
      2 -> "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      3 -> "<< /Type /Page /Contents 4 0 R >>",
      4 -> stream(s"<< /Length ${contentLen(body)} /Filter /RunLengthDecode >>", body))
    assert(pdfx(bytes) == ("1.7", 1, "run length ok"))
  }

  test("pdf image inventory: /Subtype /Image streams counted with byte totals") {
    val content = "BT 0 0 Td (with images) Tj ET"
    val img1 = "A" * 37 // raw payload bytes; encoding stays opaque
    val img2 = "B" * 11
    val bytes = miniPdf(
      1 -> "<< /Type /Catalog /Pages 2 0 R >>",
      2 -> "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      3 -> "<< /Type /Page /Contents 4 0 R /Resources << /XObject << /Im1 5 0 R /Im2 6 0 R >> >> >>",
      4 -> stream(s"<< /Length ${contentLen(content)} >>", content),
      5 -> stream(s"<< /Type /XObject /Subtype /Image /Width 2 /Height 2 " +
        s"/Filter /DCTDecode /Length ${img1.length} >>", img1),
      6 -> stream(s"<< /Type /XObject /Subtype /Image /Width 1 /Height 1 " +
        s"/Length ${img2.length} >>", img2))
    val r = graft.functions.PdfOps.compute(bytes)
    assert(r.getUTF8String(2).toString == "with images")
    assert(r.getInt(3) == 2, "n_images")
    assert(r.getLong(4) == (img1.length + img2.length).toLong, "image_bytes")
    // a form XObject is NOT an image; a dict-only (streamless) image
    // reference contributes nothing
    val none = miniPdf(
      1 -> "<< /Type /Catalog /Pages 2 0 R >>",
      2 -> "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      3 -> "<< /Type /Page /Contents 4 0 R >>",
      4 -> stream(s"<< /Length ${contentLen(content)} >>", content),
      5 -> stream("<< /Type /XObject /Subtype /Form /Length 3 >>", "xyz"),
      6 -> "<< /Type /XObject /Subtype /Image /Width 9 /Height 9 >>")
    val r2 = graft.functions.PdfOps.compute(none)
    assert(r2.getInt(3) == 0 && r2.getLong(4) == 0L)
  }
}
