package graft.eval

import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.Files

import graft.SparkSpec
import graft.metrics.GroupCondition

class PdfPlotSpec extends SparkSpec {
  import spark.implicits._

  private def predDF = Seq(
    // (sex, y_true, prediction): unprivileged = sex 0
    (0, 1, 1), (0, 1, 0), (0, 0, 0), (0, 0, 0),
    (1, 1, 1), (1, 1, 1), (1, 0, 1), (1, 0, 0))
    .toDF("sex", "y_true", "prediction")

  test("writes a structurally valid, deterministic PDF with the reference filename") {
    val cm = ConfusionMatrices.perGroup(predDF, GroupCondition(Map("sex" -> 0)))
    val out = tempDir("graft_pdf").toString
    val path = PdfPlot.writeDoubleConfusionMatrixPdf(
      cm, classes = Seq(0, 1).map(_.toString), dataset = "cmc",
      debiaser = "demv", sensitiveNames = Seq("wife_religion", "wife_work"), outDir = out)
    // reference naming: 6-char-truncated sensitive names + dataset
    assert(path.getFileName.toString === "cm_demv_wife_r_wife_w_cmc.pdf")

    val bytes = Files.readAllBytes(path)
    val s = new String(bytes, ISO_8859_1)
    assert(s.startsWith("%PDF-1.4\n"))
    assert(s.endsWith("%%EOF\n"))
    // xref table: every offset points at the matching "N 0 obj"
    val xrefOff = s.split("startxref\n")(1).split("\n")(0).toInt
    assert(s.substring(xrefOff).startsWith("xref"))
    val entries = s.substring(xrefOff).split("\n").drop(3).take(5)
    entries.zipWithIndex.foreach { case (e, i) =>
      val off = e.split(" ")(0).toInt
      assert(s.substring(off).startsWith(s"${i + 1} 0 obj"), s"object ${i + 1}")
    }
    // declared stream length matches the actual content
    val len = "/Length (\\d+)".r.findFirstMatchIn(s).get.group(1).toInt
    val streamStart = s.indexOf("stream\n") + "stream\n".length
    assert(s.substring(streamStart + len).startsWith("\nendstream"),
      "declared /Length must land exactly at endstream")
    // both panel titles and the normalized rates are drawn
    assert(s.contains("(Unprivileged group)") && s.contains("(Privileged group)"))
    // unprivileged: P(pred=1 | true=1) = 0.50; privileged: 1.00
    assert(s.contains("(0.50)") && s.contains("(1.00)"))

    // byte-stable across writes
    val path2 = PdfPlot.writeDoubleConfusionMatrixPdf(
      cm, Seq("0", "1"), "cmc", "demv", Seq("wife_religion", "wife_work"), out)
    assert(java.util.Arrays.equals(bytes, Files.readAllBytes(path2)))
  }

  test("no sensitive names -> reference's short filename; missing cells render as 0") {
    val cm = ConfusionMatrices.perGroup(
      predDF.where($"y_true" === 1), GroupCondition(Map("sex" -> 0)))
    val out = tempDir("graft_pdf2").toString
    val path = PdfPlot.writeDoubleConfusionMatrixPdf(
      cm, Seq("0", "1"), "adult", "biased", Nil, out)
    assert(path.getFileName.toString === "cm_biased_adult.pdf")
    val s = new String(Files.readAllBytes(path), ISO_8859_1)
    assert(s.contains("(0.00)")) // the empty true=0 rows draw as 0 rates
  }
}
