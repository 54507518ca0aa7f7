package graft.extract

import graft.html.MiniHtml
import graft.html.MiniHtml.Elem
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** The byte-identity extraction kernel: every scalar extraction the reference
  * performs over a fetched page, reimplemented as pure Scala over MiniHtml
  * with the reference's exact sentinel semantics (SURVEY.md §2.2).
  *
  * Design point for scale: the page is parsed ONCE and every field extracted
  * from the same DOM, returned as one struct — one kernel call per
  * (url, lang) row instead of ~10 re-parses. Jackson (ships with Spark) is
  * used for the embedded-JSON islands.
  *
  * Reference citations are per-method, into /root/reference/.
  */
object ExtractKernel extends Serializable {

  @transient private lazy val mapper = new ObjectMapper()

  /** All fields extracted from one page (one language variant). Fields are
    * sentinel-bearing strings exactly as the reference produces them; the
    * date-relative pieces are returned as raw day-counts so the plan can
    * stamp dates from an injected, deterministic run date. */
  final case class PageFields(
      name: String,           // P1/P2 with language-appropriate sentinel
      brand: String,          // P4 (default "")
      categories: Seq[String],// P6: drop-first, pad "" to 7, take 7
      barcode: String,        // P7 (__NEXT_DATA__ barCodes[0] / ean / sentinel)
      imageUrl: String,       // P8 ("Image not found")
      priceBefore: String,    // P9 (guarded; "Price not found")
      priceAfter: String,     // P10 (default "")
      offerDaysToAdd: Int,    // P5: first integer of the offer span, -1 = absent
      ldFound: Boolean,       // P15: ld+json island present? absent -> the
                              // reference's NameError failure path (metro:116-122)
      ldName: String, ldBrand: String, ldProductId: String, ldImage: String, // P15
      breadcrumbs: Seq[String], // Metro breadcrumb variant of P6
      metroPriceBefore: String, metroPriceAfter: String, // P16 (null -> "")
      arNameXpath: String,    // P3: lxml xpath name; null = element found but
                              // no direct text (lxml .text None, helpers:19-25)
      links: Seq[String])     // P14 raw hrefs ("N/A" for missing)

  final val NameSentinelEn = "Product name not found"
  final val NameSentinelAr = "لم يتم العثور على اسم المنتج"
  final val BarcodeSentinel = "Product barcode not found"
  final val ImageSentinel = "Image not found"
  final val PriceSentinel = "Price not found"
  // P15 defaults — metro_markets_extract_product_data.py:119-122 `.get(k, d)`
  final val LdNameSentinel = "Product name not found"
  final val LdBrandSentinel = "Brand name not found"
  final val LdProductIdSentinel = "Product ID not found"
  final val LdImageSentinel = "Image URL not found"
  /** The xpath literal of metro_markets_extract_product_data.py:100. */
  final val MetroArNameXPath =
    "/html/body/div[3]/div[1]/main/div/div/div/div[2]/div/header/div/h5"

  private val DigitsRe = "\\d+".r
  private val PriceRe = "\\d+\\.\\d+".r

  /** P1/P2 — scripts/utils/extraction_helpers.py:3-17. select_one(sel).text,
    * language-specific sentinel when missing OR when the extracted text is
    * empty (`name if name else sentinel` — empty string is falsy; whitespace
    * is not: the reference does NOT strip here).
    *
    * Every P-field below is a `*From(hits)` core over the elements its
    * selector matched: `extractAll` fuses all 14 constant selectors into ONE
    * DOM walk (MiniHtml.selectMany — the per-selector walks were ~70% of
    * kernel time) and hands each core its hits. */
  private[extract] def productNameFrom(hits: List[Elem], sentinel: String): String =
    hits.headOption.map(_.text).filter(_.nonEmpty).getOrElse(sentinel)

  /** P3 — extraction_helpers.py:19-25 + metro:100-102: lxml xpath over the
    * re-serialized soup; first match's `.text` (direct text only, may be
    * None -> null), sentinel when the path matches nothing. */
  def metroArName(root: Elem): String =
    MiniHtml.selectXPath(root, MetroArNameXPath) match {
      case Nil => NameSentinelAr
      case el :: _ => MiniHtml.directText(el).orNull
    }

  /** P4 — carrefour_extract_data.py:26-32: `.css-1nnke3o` text stripped, "" default. */
  private[extract] def brandNameFrom(hits: List[Elem]): String =
    hits.headOption.map(_.text.trim).getOrElse("")

  /** P5 — carrefour_extract_data.py:35-46: first integer in
    * `.css-juexlj > span:nth-child(2)`; -1 when absent (plan maps -1 -> ""). */
  private[extract] def offerDaysFrom(hits: List[Elem]): Int =
    hits.headOption
      .flatMap(e => DigitsRe.findFirstIn(e.text.trim))
      .map(_.toInt).getOrElse(-1)

  /** P6 — carrefour_extract_data.py:49-59: `.css-iamwo8` texts (stripped,
    * non-empty), drop first, right-pad "" to exactly 7. */
  private[extract] def categoriesFrom(hits: List[Elem]): Seq[String] = {
    val all = hits.map(_.text.trim).filter(_.nonEmpty)
    val dropped = if (all.nonEmpty) all.tail else Nil
    (dropped ++ Seq.fill(7)("")).take(7)
  }

  /** P7 — carrefour_extract_data.py:62-84: `#__NEXT_DATA__` JSON,
    * products[0].attributes.barCodes[0], fallback .ean, sentinel otherwise. */
  private[extract] def barcodeFrom(hits: List[Elem]): String = {
    try {
      hits.headOption match {
        case None => BarcodeSentinel
        case Some(el) =>
          val json = mapper.readTree(el.text.trim)
          val attrs = json.path("props").path("initialProps").path("pageProps")
            .path("initialData").path("products").path(0).path("attributes")
          val bars = attrs.path("barCodes")
          if (bars.isArray && bars.size() > 0) bars.get(0).asText()
          else {
            val ean = attrs.path("ean")
            if (!ean.isMissingNode && !ean.isNull && ean.asText().nonEmpty) ean.asText()
            else BarcodeSentinel
          }
      }
    } catch { case _: Exception => BarcodeSentinel }
  }

  /** P8 — carrefour_extract_data.py:87-93: `div.css-1c2pck7 img`@src. */
  private[extract] def imageUrlFrom(hits: List[Elem]): String =
    hits.headOption.flatMap(_.attrs.get("src")).getOrElse(ImageSentinel)

  /** P10 — carrefour_extract_data.py:114-120: `.css-1i90gmp` first \d+.\d+. */
  private[extract] def priceAfterFrom(hits: List[Elem]): String =
    hits.headOption.flatMap(e => PriceRe.findFirstIn(e.text)).getOrElse("")

  /** P9 — carrefour_extract_data.py:96-111: if priceAfter present, read
    * `del.css-1bdwabt` (raise on 'Use code'), else/on-failure fall back to
    * `.css-17ctnp`; sentinel "Price not found". */
  private[extract] def priceBeforeFrom(delHits: List[Elem], fallbackHits: List[Elem],
      priceAfterValue: String): String = {
    def fallback: String =
      fallbackHits.headOption
        .flatMap(e => PriceRe.findFirstIn(e.text)).getOrElse(PriceSentinel)
    if (priceAfterValue.nonEmpty) {
      delHits.headOption match {
        case Some(el) =>
          val t = el.text
          if (t.contains("Use code")) fallback
          else PriceRe.findFirstIn(t).getOrElse("")
        case None => fallback
      }
    } else fallback
  }

  /** P15 — metro_markets_extract_product_data.py:114-122: first
    * `script[type=application/ld+json]` -> (found, name, brand, productID,
    * image). Field semantics are Python `.get(k, default)`: MISSING key ->
    * the reference's per-field sentinel; key present with null -> "" (None
    * lands as the empty cell in the sink). `found=false` (no island, or
    * unparseable JSON) is the reference's NameError/exception failure path —
    * the whole URL fails and re-enters the retry loop (metro:176-182). */
  def ldJson(root: Elem): (Boolean, String, String, String, String) =
    ldJsonFrom(MiniHtml.select(root, "script[type=application/ld+json]"))

  private[extract] def ldJsonFrom(hits: List[Elem]): (Boolean, String, String, String, String) = {
    try {
      hits.headOption match {
        case None => (false, "", "", "", "")
        case Some(el) =>
          val j = mapper.readTree(el.text.trim)
          def f(k: String, sentinel: String): String = {
            val n = j.path(k)
            if (n.isMissingNode) sentinel else if (n.isNull) "" else n.asText()
          }
          // brand is a string in metro's ld+json; an object form would be the
          // raw dict in the reference (unwritable) — we take its name
          val brand = {
            val b = j.path("brand")
            if (b.isMissingNode) LdBrandSentinel
            else if (b.isObject) b.path("name").asText("")
            else if (b.isNull) "" else b.asText()
          }
          (true, f("name", LdNameSentinel), brand,
            f("productID", LdProductIdSentinel), f("image", LdImageSentinel))
      }
    } catch { case _: Exception => (false, "", "", "", "") }
  }

  /** Metro breadcrumb categories — metro_markets_extract_product_data.py:48-81:
    * `.breadcrumb li` texts via nested `a` (li without `a` -> ""), drop the
    * first crumb, pad "" to 7. */
  private[extract] def breadcrumbsFrom(lis: List[Elem]): Seq[String] = {
    val crumbs = lis.map { li =>
      MiniHtml.selectOne(li, "a").map(_.text.trim).getOrElse("")
    }
    val dropped = if (crumbs.nonEmpty) crumbs.tail else Nil
    (dropped ++ Seq.fill(7)("")).take(7)
  }

  /** P16 — metro_markets_extract_product_data.py:21-46: `.price p.before` /
    * `.price p.after` text, strip literal "LE", trim; "" when absent. */
  private[extract] def metroPriceFrom(hits: List[Elem]): String =
    hits.headOption.map(e => e.text.replace("LE", "").trim).getOrElse("")

  /** P14 — href harvest: every `a`'s href, "N/A" when the attribute is
    * missing (metro_markets_extract_product_urls.py:56-66). Absolutization
    * happens in the plan (UrlCanon.absolutize). */
  private[extract] def linksFrom(hits: List[Elem]): Seq[String] =
    hits.map(_.attrs.getOrElse("href", "N/A"))

  /** The 14 constant selectors of the fused extraction pass, in the index
    * order `extractAll` reads them. */
  private val FusedSelectors: IndexedSeq[String] = IndexedSeq(
    ".css-106scfp",                      // 0 P1/P2 name
    ".css-1nnke3o",                      // 1 P4 brand
    ".css-juexlj > span:nth-child(2)",   // 2 P5 offer span
    ".css-iamwo8",                       // 3 P6 categories
    "#__NEXT_DATA__",                    // 4 P7 barcode island
    "div.css-1c2pck7 img",               // 5 P8 image
    ".css-1i90gmp",                      // 6 P10 price after
    "del.css-1bdwabt",                   // 7 P9 price before (primary)
    ".css-17ctnp",                       // 8 P9 price before (fallback)
    "script[type=application/ld+json]",  // 9 P15 ld+json island
    ".breadcrumb li",                    // 10 Metro breadcrumbs
    ".price p.before",                   // 11 P16
    ".price p.after",                    // 12 P16
    "a")                                 // 13 P14 links

  /** Parse once, select everything in ONE DOM walk, extract every field.
    * `lang` selects the P1 vs P2 sentinel. Field semantics live in the
    * `*From` cores above. */
  def extractAll(html: String, lang: String): PageFields = {
    val root = MiniHtml.parse(if (html == null) "" else html)
    val h = MiniHtml.selectMany(root, FusedSelectors)
    val sentinel = if (lang == "ar") NameSentinelAr else NameSentinelEn
    val pAfter = priceAfterFrom(h(6))
    val (ldFnd, ldN, ldB, ldP, ldI) = ldJsonFrom(h(9))
    PageFields(
      name = productNameFrom(h(0), sentinel),
      brand = brandNameFrom(h(1)),
      categories = categoriesFrom(h(3)),
      barcode = barcodeFrom(h(4)),
      imageUrl = imageUrlFrom(h(5)),
      priceBefore = priceBeforeFrom(h(7), h(8), pAfter),
      priceAfter = pAfter,
      offerDaysToAdd = offerDaysFrom(h(2)),
      ldFound = ldFnd, ldName = ldN, ldBrand = ldB, ldProductId = ldP, ldImage = ldI,
      breadcrumbs = breadcrumbsFrom(h(10)),
      metroPriceBefore = metroPriceFrom(h(11)),
      metroPriceAfter = metroPriceFrom(h(12)),
      arNameXpath = metroArName(root),
      links = linksFrom(h(13)))
  }
}
