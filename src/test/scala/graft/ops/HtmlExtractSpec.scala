package graft.ops


import graft.SparkSpec

/** Edges of the HTML→text state machine the committed fixture can't
  * host (q351 gates the planted corpus vs the independent python
  * twin; binaryFile skips zero-length files, so empty/null inputs and
  * pathological streams live here). */
class HtmlExtractSpec extends SparkSpec {
  import spark.implicits._

  test("empty and null inputs yield empty rows, never errors") {
    assert(HtmlExtract.extractText("") === (("", 0)))
    val df = Seq((1L, null.asInstanceOf[String]), (2L, ""))
      .toDF("doc_id", "html")
    val got = HtmlExtract.htmlToText(df, "doc_id", "html")
      .collect().sortBy(_.id)
    assert(got.map(e => (e.id, e.text, e.n_links, e.text_density)).toSeq
      === Seq((1L, "", 0, 0.0), (2L, "", 0, 0.0)))
  }

  test("pathological streams terminate and never throw") {
    // unterminated tag, unterminated comment, unterminated quote
    assert(HtmlExtract.extractText("<a href='never closes")._1 === "")
    assert(HtmlExtract.extractText("<!-- forever")._1 === "")
    assert(HtmlExtract.extractText("text <")._1 === "text <")
    // entity bombs: '&' runs with far-away semicolons stay literal
    val amp = "&" * 2000 + ";"
    assert(HtmlExtract.extractText(amp)._1.startsWith("&&&"))
    // a million nested divs of markup collapse to the one text node
    val deep = "<div>" * 1000 + "x" + "</div>" * 1000
    assert(HtmlExtract.extractText(deep)._1 === "x")
    // astral numeric entity round-trips as a surrogate pair
    assert(HtmlExtract.extractText("&#128512;")._1.codePointAt(0)
      === 128512)
    // invalid numeric entities stay literal
    assert(HtmlExtract.extractText("&#x110000; &#-3; &#xZZ;")._1
      === "&#x110000; &#-3; &#xZZ;")
  }

  test("htmlToText is map-only (no shuffle in the plan)") {
    val df = Seq((1L, "<p>hi</p>")).toDF("doc_id", "html")
    val plan = HtmlExtract.htmlToText(df, "doc_id", "html")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }
}
