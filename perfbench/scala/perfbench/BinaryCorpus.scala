package perfbench

import graft.extract._
import graft.io.SyntheticDocs.DocRng

/** The `binary` workload's file tree: real container files written by the
  * program's own file writers, each paired with what extraction must return.
  *
  * File `i` of seed `s` is a pure function of `(s, i)`. Most files are
  * text PDFs across the four font programs the interpreter decodes (core
  * Helvetica, embedded TrueType with and without a Unicode cmap, CFF,
  * Type 1) plus encrypted PDFs; the rest cover every Office / ODF / ebook
  * / legacy container `io.Ingest` admits from a directory. A fixed share is
  * planted corrupt (truncated archives, headerless bytes) and must come
  * back as exactly one failure row each.
  */
object BinaryCorpus {

  sealed trait Expect
  /** Successful row: title, page count, and the text lines the writer was
    * given, in order (each must appear, in that order, in the text spans).
    */
  final case class Ok(title: String, pageCount: Int, lines: Seq[String]) extends Expect
  /** Planted corrupt file: exactly one failure row, no doc row. */
  case object Fail extends Expect

  final case class FileSpec(relPath: String, kind: String, bytes: Array[Byte], expect: Expect)

  private val Words: IndexedSeq[String] =
    ("alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima " +
      "mike november oscar papa quebec romeo sierra tango uniform victor whiskey " +
      "xray yankee zulu amber basil cedar dune ember fjord grove heath").split(' ').toIndexedSeq

  private def line(rng: DocRng, n: Int): String =
    (0 until n).map(_ => Words(rng.nextInt(Words.length))).mkString(" ").capitalize

  /** Kind of file `i` (share per 100): the mix is mostly PDF. Legacy
    * `.doc` / `.ppt` are absent: they are outside the supported MIME set
    * that directory ingestion admits, so only the per-kind extract timers
    * cover them (with an explicit MIME).
    */
  def kindOf(r: Int): String =
    if (r < 58) "pdf_text"
    else if (r < 63) "pdf_encrypted"
    else if (r < 67) "docx"
    else if (r < 70) "pptx"
    else if (r < 73) "xlsx"
    else if (r < 76) "epub"
    else if (r < 79) "odt"
    else if (r < 82) "rtf"
    else if (r < 85) "xls"
    else if (r < 88) "xlsb"
    else if (r < 91) "ods"
    else if (r < 94) "pdf_truncated"
    else if (r < 97) "pdf_garbage"
    else "docx_truncated"

  def spec(seed: Long, i: Int): FileSpec = {
    val rng = new DocRng(graft.io.SyntheticDocs.splitmix64(seed * 0x2545f4914f6cdd1dL + i))
    val kind = kindOf(rng.nextInt(100))
    val name = f"f$i%06d"
    val dir = f"d${i % 16}%02d"
    def path(ext: String) = s"$dir/$name.$ext"
    kind match {
      case "pdf_text" | "pdf_truncated" =>
        val nPages = 1 + rng.nextInt(4)
        val pages = (1 to nPages).map(_ => (0 until 3).map(_ => line(rng, 3 + rng.nextInt(4))))
        val bytes = rng.nextInt(5) match {
          case 1 => PdfText.buildTextPdfTT(pages, unicodeCmap = false)
          case 2 => PdfText.buildTextPdfTT(pages, unicodeCmap = true)
          case 3 => PdfText.buildTextPdfCFF(pages)
          case 4 => PdfText.buildTextPdfT1(pages)
          case _ => PdfText.buildTextPdf(pages)
        }
        if (kind == "pdf_truncated")
          FileSpec(path("pdf"), kind, java.util.Arrays.copyOf(bytes, bytes.length / 3), Fail)
        else FileSpec(path("pdf"), kind, bytes, Ok(name, nPages, pages.flatten))
      case "pdf_encrypted" =>
        val nPages = 1 + rng.nextInt(4)
        val title = line(rng, 2)
        // empty user password: opens fully; a real password: the locked shape
        val locked = rng.nextInt(2) == 0
        val bytes = PdfBytes.buildPdf(Seq.fill(nPages)((612.0, 792.0)), title, "perfbench",
          Some((if (locked) "secret" else "", if (rng.nextInt(2) == 0) 3 else 6)))
        FileSpec(path("pdf"), kind, bytes,
          if (locked) Ok(name, 0, Nil) else Ok(title, nPages, Nil))
      case "pdf_garbage" =>
        val bytes = Array.fill(512 + rng.nextInt(512))(rng.nextInt(256).toByte)
        bytes(0) = 'x'.toByte // never a %PDF header
        FileSpec(path("pdf"), kind, bytes, Fail)
      case "docx" | "docx_truncated" =>
        import DocxExtract._
        val title = line(rng, 2)
        val head = line(rng, 3)
        val body = (0 until 1 + rng.nextInt(3)).map(_ => line(rng, 5 + rng.nextInt(5)))
        val bytes = buildDocx(title, Para(s"# $head") +: body.map(Para(_)))
        if (kind == "docx_truncated")
          FileSpec(path("docx"), kind, java.util.Arrays.copyOf(bytes, bytes.length / 2), Fail)
        else FileSpec(path("docx"), kind, bytes, Ok(title, 1, s"# $head" +: body))
      case "pptx" =>
        val title = line(rng, 2)
        val slides = (0 until 1 + rng.nextInt(3)).map(_ =>
          OfficeExtract.Slide(line(rng, 2), Seq(line(rng, 4 + rng.nextInt(4)))))
        FileSpec(path("pptx"), kind, OfficeExtract.buildPptx(title, slides),
          Ok(title, slides.size, slides.flatMap(s => s.title +: s.blocks)))
      case "xlsx" | "ods" =>
        val title = line(rng, 2)
        val sheets = (0 until 1 + rng.nextInt(2)).map { k =>
          (s"Sheet$k", (0 until 2 + rng.nextInt(3)).map(_ =>
            Seq(Words(rng.nextInt(Words.length)), rng.nextInt(1000).toString)))
        }
        val bytes =
          if (kind == "xlsx") OfficeExtract.buildXlsx(title, sheets)
          else OdsExtract.buildOds(title, sheets)
        FileSpec(path(kind), kind, bytes,
          Ok(title, sheets.size, sheets.flatMap(_._2.flatten)))
      case "xls" | "xlsb" =>
        import XlsExtract.{XlsStr, XlsNum}
        val title = line(rng, 2)
        val sheets = (0 until 1 + rng.nextInt(2)).map { k =>
          (s"Sheet$k", (0 until 2 + rng.nextInt(3)).map(_ =>
            Seq(XlsStr(Words(rng.nextInt(Words.length))), XlsNum(rng.nextInt(1000).toDouble))))
        }
        val bytes =
          if (kind == "xls") XlsExtract.buildXls(title, sheets)
          else XlsbExtract.buildXlsb(title, sheets)
        FileSpec(path(kind), kind, bytes, Ok(title, sheets.size, sheets.flatMap(_._2.flatMap {
          case Seq(XlsStr(w), XlsNum(d)) => Seq(w, d.toLong.toString)
          case _ => Nil
        })))
      case "epub" =>
        val title = line(rng, 2)
        val chapters = (0 until 1 + rng.nextInt(3)).map(_ => (line(rng, 3),
          line(rng, 12 + rng.nextInt(6))))
        val html = chapters.map { case (h, p) =>
          s"<html><body><h1>$h</h1><p>$p with enough plain words to read as content.</p></body></html>"
        }
        FileSpec(path("epub"), kind, EpubExtract.buildEpub(title, html),
          Ok(title, chapters.size, chapters.flatMap { case (h, p) => Seq(h, p) }))
      case "odt" =>
        import DocxExtract.Para
        val title = line(rng, 2)
        val head = line(rng, 3)
        val body = (0 until 1 + rng.nextInt(3)).map(_ => line(rng, 5 + rng.nextInt(5)))
        FileSpec(path("odt"), kind, OdtExtract.buildOdt(title, Para(s"# $head") +: body.map(Para(_))),
          Ok(title, 1, s"# $head" +: body))
      case "rtf" =>
        val title = line(rng, 2)
        val paras = (0 until 2 + rng.nextInt(3)).map(_ => line(rng, 4 + rng.nextInt(5)))
        val breakAt = 1 + rng.nextInt(paras.size - 1)
        FileSpec(path(kind), kind, RtfExtract.buildRtf(title, paras, Set(breakAt)).getBytes("ISO-8859-1"),
          Ok(title, 2, paras))
    }
  }
}
