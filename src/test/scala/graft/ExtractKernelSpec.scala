package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.extract.ExtractKernel
import graft.gen.Synthetic

/** Byte-identity suite for the extraction kernel (input_hint invariant:
  * byte-identical extracted text per url). The oracle is NOT the kernel —
  * expected values are computed directly from the generator's parameters,
  * mirroring the reference's extraction logic
  * (/root/reference/scripts/Carrefour/carrefour_extract_data.py §2.2 of
  * SURVEY.md) straight-line. */
class ExtractKernelSpec extends AnyFunSuite {

  private val N = 400L

  test("name (P1/P2): exact text or exact sentinel, byte-identical per url") {
    for (id <- 0L until N; lang <- Seq("en", "ar")) {
      val f = ExtractKernel.extractAll(Synthetic.pageHtml(id, lang), lang)
      assert(f.name == Synthetic.expectedText(id, lang),
        s"id=$id lang=$lang")
    }
  }

  test("brand (P4): stripped text, empty default") {
    for (id <- 0L until N) {
      val f = ExtractKernel.extractAll(Synthetic.pageHtml(id, "en"), "en")
      val expected = if (Synthetic.hasBrand(id)) Synthetic.brandEn(id) else ""
      assert(f.brand == expected, s"id=$id")
    }
  }

  test("categories (P6): drop-first, strip, pad to exactly 7") {
    for (id <- 0L until N) {
      val f = ExtractKernel.extractAll(Synthetic.pageHtml(id, "en"), "en")
      val k = Synthetic.nCats(id)
      val expected =
        ((1 until k).map(i => Synthetic.catName(id, i, "en")) ++ Seq.fill(7)("")).take(7)
      assert(f.categories == expected, s"id=$id k=$k")
      assert(f.categories.size == 7)
    }
  }

  test("barcode (P7): barCodes[0] / ean fallback / sentinel — all branches") {
    var seen = Set.empty[Int]
    for (id <- 0L until N) {
      val f = ExtractKernel.extractAll(Synthetic.pageHtml(id, "en"), "en")
      val bc = Synthetic.barcodeCase(id)
      seen += bc
      val expected = bc match {
        case 0 => Synthetic.barcodeVal(id)
        case 1 | 2 => s"E$id"
        case _ => ExtractKernel.BarcodeSentinel
      }
      assert(f.barcode == expected, s"id=$id case=$bc")
    }
    assert(seen == Set(0, 1, 2, 3), "all barcode branches exercised")
  }

  test("prices (P9/P10): offer, poison-guard fallback, and no-offer branches") {
    for (id <- 0L until N) {
      val f = ExtractKernel.extractAll(Synthetic.pageHtml(id, "en"), "en")
      if (Synthetic.hasOffer(id)) {
        assert(f.priceAfter == Synthetic.priceAfterVal(id), s"id=$id after")
        // poison page: del contains 'Use code' -> fallback .css-17ctnp
        assert(f.priceBefore == Synthetic.priceBeforeVal(id), s"id=$id before")
      } else {
        assert(f.priceAfter == "", s"id=$id no-offer after")
        // no offer -> fallback selector
        assert(f.priceBefore == Synthetic.priceBeforeVal(id), s"id=$id no-offer before")
      }
    }
  }

  test("price sentinel when no price present at all") {
    val f = ExtractKernel.extractAll("<html><body></body></html>", "en")
    assert(f.priceBefore == ExtractKernel.PriceSentinel)
    assert(f.priceAfter == "")
    assert(f.imageUrl == ExtractKernel.ImageSentinel)
    assert(f.barcode == ExtractKernel.BarcodeSentinel)
    assert(f.name == ExtractKernel.NameSentinelEn)
  }

  test("offer countdown (P5): first integer of span 2, -1 when absent") {
    for (id <- 0L until N) {
      val f = ExtractKernel.extractAll(Synthetic.pageHtml(id, "en"), "en")
      val expected =
        if (Synthetic.hasOffer(id) && Synthetic.hasOfferSpan(id)) Synthetic.offerDays(id) else -1
      assert(f.offerDaysToAdd == expected, s"id=$id")
    }
  }

  test("image (P8)") {
    for (id <- 0L until N) {
      val f = ExtractKernel.extractAll(Synthetic.pageHtml(id, "en"), "en")
      val expected =
        if (Synthetic.hasImage(id)) s"https://img.example.com/p$id.jpg"
        else ExtractKernel.ImageSentinel
      assert(f.imageUrl == expected, s"id=$id")
    }
  }

  test("ld+json (P15)") {
    for (id <- 0L until 50L) {
      val f = ExtractKernel.extractAll(Synthetic.pageHtml(id, "en"), "en")
      assert(f.ldName == s"LD ${Synthetic.nameEn(id)}")
      assert(f.ldBrand == Synthetic.brandEn(id))
      assert(f.ldProductId == s"ld-$id")
      assert(f.ldImage == s"https://img.example.com/ld-$id.jpg")
    }
    // reference `.get(k, default)` sentinels (metro:119-122): missing key ->
    // sentinel, present-null -> '', no island -> found=false (failure path)
    val missing = ExtractKernel.ldJson(graft.html.MiniHtml.parse(
      """<script type="application/ld+json">{"@type":"Product"}</script>"""))
    assert(missing == (true, "Product name not found", "Brand name not found",
      "Product ID not found", "Image URL not found"))
    val nulls = ExtractKernel.ldJson(graft.html.MiniHtml.parse(
      """<script type="application/ld+json">{"name":null,"brand":null,"productID":null,"image":null}</script>"""))
    assert(nulls == (true, "", "", "", ""))
    assert(ExtractKernel.ldJson(graft.html.MiniHtml.parse("<p>no island</p>"))._1 == false)
  }

  test("breadcrumbs (Metro P6 variant): li-without-a yields empty crumb") {
    for (id <- 0L until 50L) {
      val f = ExtractKernel.extractAll(Synthetic.pageHtml(id, "en"), "en")
      val k = math.min(Synthetic.nCats(id), 5)
      // crumbs = Home :: cats(1..k-1) :: "" (the no-link li); drop first, pad 7
      val crumbs = (1 until k).map(i => Synthetic.catName(id, i, "en")) :+ ""
      val expected = (crumbs ++ Seq.fill(7)("")).take(7)
      assert(f.breadcrumbs == expected, s"id=$id")
    }
  }

  test("metro prices (P16): LE stripped, trimmed") {
    for (id <- 0L until 50L) {
      val f = ExtractKernel.extractAll(Synthetic.pageHtml(id, "en"), "en")
      assert(f.metroPriceBefore == Synthetic.priceBeforeVal(id))
      assert(f.metroPriceAfter == Synthetic.priceAfterVal(id))
    }
  }

  test("links (P14): absolute kept, relative raw, missing href -> N/A") {
    for (id <- 0L until 50L) {
      val f = ExtractKernel.extractAll(Synthetic.pageHtml(id, "en"), "en")
      // breadcrumb anchors carry no href (N/A), then the 3 harvest targets
      val nCrumbAnchors = math.max(1, math.min(Synthetic.nCats(id), 5))
      assert(f.links.size == nCrumbAnchors + 3, s"id=$id")
      assert(f.links.take(nCrumbAnchors).forall(_ == "N/A"), s"id=$id crumbs")
      val tail = f.links.takeRight(3)
      assert(tail(0).startsWith("https://"), s"id=$id absolute")
      assert(tail(1).startsWith("/mafegy/"), s"id=$id relative")
      assert(tail(2) == "N/A", s"id=$id missing")
    }
  }

  test("kernel is deterministic (same bytes in, same fields out)") {
    for (id <- 0L until 20L) {
      val h = Synthetic.pageHtml(id, "en")
      assert(ExtractKernel.extractAll(h, "en") == ExtractKernel.extractAll(h, "en"))
    }
  }

  test("native extract expression: identical fields to the kernel, and the " +
    "fetch+extract physical plan has NO ScalaUDF node") {
    import org.apache.spark.sql.functions._
    val spark = SparkTestBase.session
    import spark.implicits._
    // value identity: the native expression == the kernel wrapped in a
    // ScalaUDF, field for field, through the same collect path
    val pages = Synthetic.pages(spark, 40, 2).toDF()
    def dump(fields: org.apache.spark.sql.Column): Map[(String, String), String] =
      pages.withColumn("fields", fields)
        .select(col("url"), col("lang"), col("fields").cast("string"))
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getString(2))
        .toMap
    val viaExpr = dump(
      graft.plans.ExtractAllExpr.extractAll(decode(col("html"), "UTF-8"), col("lang")))
    val kernelUdf = udf((html: String, lang: String) => ExtractKernel.extractAll(html, lang))
    val viaUdf = dump(kernelUdf(decode(col("html"), "UTF-8"), col("lang")))
    assert(viaExpr.nonEmpty && viaExpr == viaUdf,
      viaExpr.find(kv => viaUdf.get(kv._1) != Some(kv._2)).toString.take(400))
    // plan shape: the 100 TB hot path must stay inside whole-stage codegen —
    // no ScalaUDF/BatchEvalPython anywhere in the product pipeline
    val pivoted = graft.extract.Extractors.pivotLangs(
      graft.extract.Extractors.withPageFields(pages), "url")
      .withColumn("url_en", coalesce(col("url_en"), col("url")))
    val plan = graft.extract.Extractors.carrefourProduct(pivoted, "2024-11-10")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"), plan.take(500))
  }
}
