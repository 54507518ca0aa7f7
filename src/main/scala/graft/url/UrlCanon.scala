package graft.url

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** RFC-3986 URL canonicalization + the reference's merchant-specific URL
  * rewrites, re-expressed for a Spark-native frontier.
  *
  * Reference semantics covered (cites into /root/reference/):
  *  - language-variant rewrite `/en/` -> `/ar/` (scripts/utils/helpers.py:23-24)
  *    and the Metro variant `/product/` -> `/ar/product/`
  *    (scripts/MetroMarkets/metro_markets_extract_product_data.py:83-88)
  *  - category-URL canonicalization: keep URLs matching `.../c/...<digits>`,
  *    else rewrite `(.../en)/.*?/clp_(.*<digit>)` -> `$1/c/$2`
  *    (scripts/Carrefour/carrefour_extract_urls.py:43-54)
  *  - relative->absolute href resolution with base prefix
  *    (scripts/MetroMarkets/metro_markets_extract_product_urls.py:56-72,
  *     scripts/Oscar/oscar_extract_product_urls.py:33-39)
  *
  * The full RFC-3986 normalizer (scheme/host lowercasing, default-port strip,
  * fragment removal, percent-encoding normalization, dot-segment removal,
  * query-param sort) is a pure Scala function so the straight-line test
  * oracle and the Spark plan share one definition; plans reach it through
  * the native `UrlCanonExpr`/`UrlCanonPartsExpr` expressions. A Column-only "light" canonicalizer built purely from
  * codegen'd builtins is also provided for plans that only need the
  * SQL-expressible subset (and for the DuckDB oracle checks).
  */
object UrlCanon extends Serializable {

  private val DefaultPorts = Map("http" -> 80, "https" -> 443, "ftp" -> 21, "ws" -> 80, "wss" -> 443)

  private def isUnreserved(c: Char): Boolean =
    (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') ||
      c == '-' || c == '.' || c == '_' || c == '~'

  /** Normalize percent-encoding: decode unreserved escapes, uppercase hex of
    * the remaining escapes; leave malformed escapes untouched. */
  private[url] def normalizePercent(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length + 1 && i + 2 < s.length + 1) {
        if (i + 2 < s.length &&
            isHex(s.charAt(i + 1)) && isHex(s.charAt(i + 2))) {
          val v = Integer.parseInt(s.substring(i + 1, i + 3), 16)
          if (isUnreserved(v.toChar)) sb.append(v.toChar)
          else { sb.append('%'); sb.append(Character.toUpperCase(s.charAt(i + 1))); sb.append(Character.toUpperCase(s.charAt(i + 2))) }
          i += 3
        } else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private def isHex(c: Char): Boolean =
    (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')

  /** RFC 3986 §5.2.4 remove_dot_segments. */
  private[url] def removeDotSegments(path: String): String = {
    val out = new scala.collection.mutable.ArrayBuffer[String]()
    var in = path
    while (in.nonEmpty) {
      if (in.startsWith("../")) in = in.substring(3)
      else if (in.startsWith("./")) in = in.substring(2)
      else if (in.startsWith("/./")) in = "/" + in.substring(3)
      else if (in == "/.") in = "/"
      else if (in.startsWith("/../")) { in = "/" + in.substring(4); if (out.nonEmpty) out.remove(out.length - 1) }
      else if (in == "/..") { in = "/"; if (out.nonEmpty) out.remove(out.length - 1) }
      else if (in == "." || in == "..") in = ""
      else {
        val start = if (in.startsWith("/")) 1 else 0
        val idx = in.indexOf('/', start)
        val (seg, rest) = if (idx >= 0) (in.substring(0, idx), in.substring(idx)) else (in, "")
        out += seg
        in = rest
      }
    }
    out.mkString
  }

  /** Full canonical form. Pure function: the single definition shared by the
    * native plan expressions, the straight-line scheduler oracle, and the tests. */
  def canonicalize(raw: String): String = {
    if (raw == null) return null
    val trimmed = raw.trim
    if (trimmed.isEmpty) return trimmed
    // split off fragment first (dropped entirely)
    val noFrag = { val h = trimmed.indexOf('#'); if (h >= 0) trimmed.substring(0, h) else trimmed }
    val schemeEnd = noFrag.indexOf("://")
    if (schemeEnd <= 0) return normalizePercent(noFrag) // not an absolute hierarchical URL
    val scheme = noFrag.substring(0, schemeEnd).toLowerCase
    val rest = noFrag.substring(schemeEnd + 3)
    val pathStart = { val i = rest.indexWhere(c => c == '/' || c == '?'); if (i >= 0) i else rest.length }
    var authority = rest.substring(0, pathStart)
    var pathAndQuery = rest.substring(pathStart)
    // userinfo kept as-is (rare); host lowercased; default port stripped
    val atIdx = authority.lastIndexOf('@')
    val (userinfo, hostPort) = if (atIdx >= 0) (authority.substring(0, atIdx + 1), authority.substring(atIdx + 1)) else ("", authority)
    val colonIdx = hostPort.lastIndexOf(':')
    val (host0, port) =
      if (colonIdx >= 0 && hostPort.substring(colonIdx + 1).forall(_.isDigit) && !hostPort.endsWith("]"))
        (hostPort.substring(0, colonIdx), hostPort.substring(colonIdx + 1))
      else (hostPort, "")
    val host = host0.toLowerCase.stripSuffix(".")
    val portPart =
      if (port.isEmpty) ""
      else if (DefaultPorts.get(scheme).exists(_.toString == port)) ""
      else ":" + port
    authority = userinfo + host + portPart
    // split path / query
    val qIdx = pathAndQuery.indexOf('?')
    var (path, query) = if (qIdx >= 0) (pathAndQuery.substring(0, qIdx), pathAndQuery.substring(qIdx + 1)) else (pathAndQuery, null)
    path = removeDotSegments(normalizePercent(path))
    if (path.isEmpty) path = "/"
    val queryPart =
      if (query == null || query.isEmpty) ""
      else {
        // sort query params for a stable frontier key (engine policy; the
        // reference never re-orders because it never normalizes at all)
        val params = query.split("&", -1).filter(_.nonEmpty).map(normalizePercent).sorted
        if (params.isEmpty) "" else "?" + params.mkString("&")
      }
    scheme + "://" + authority + path + queryPart
  }

  /** Host of a canonical URL; empty string when not parseable. */
  def hostOf(url: String): String = {
    if (url == null) return ""
    val i = url.indexOf("://")
    if (i <= 0) return ""
    val rest = url.substring(i + 3)
    val end = rest.indexWhere(c => c == '/' || c == '?' || c == '#')
    val auth = if (end >= 0) rest.substring(0, end) else rest
    val at = auth.lastIndexOf('@')
    val hp = if (at >= 0) auth.substring(at + 1) else auth
    val colon = hp.lastIndexOf(':')
    val h = if (colon >= 0 && hp.substring(colon + 1).forall(_.isDigit)) hp.substring(0, colon) else hp
    h.toLowerCase
  }

  /** Path depth of a canonical URL = number of non-empty path segments. */
  def depthOf(url: String): Int = {
    if (url == null) return 0
    val i = url.indexOf("://")
    if (i <= 0) return 0
    val rest = url.substring(i + 3)
    val slash = rest.indexOf('/')
    if (slash < 0) return 0
    val q = rest.indexOf('?')
    val path = if (q >= 0 && q > slash) rest.substring(slash, q) else rest.substring(slash)
    path.split("/").count(_.nonEmpty)
  }

  // ---------------------------------------------------------------------
  // Column API (codegen'd builtins only — SQL-expressible, DuckDB-checkable)
  // ---------------------------------------------------------------------

  /** Light canonicalizer from pure builtins: lowercase scheme+host, strip
    * default :80/:443 port, drop #fragment, drop trailing lone '?'. The parts
    * of RFC 3986 that regex can express; `canonicalize` covers the rest. */
  def canonLight(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val noEmptyQ = regexp_replace(noFrag, "\\?$", "")
    // lowercase scheme://host[:port] prefix only (path case is significant)
    val lowered = concat(
      lower(regexp_extract(noEmptyQ, "^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*)", 1)),
      regexp_replace(noEmptyQ, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*", ""))
    val noDefPort = regexp_replace(
      regexp_replace(lowered, "^(https://[^/?:]*):443(?=[/?]|$)", "$1"),
      "^(http://[^/?:]*):80(?=[/?]|$)", "$1")
    // empty path -> "/"
    when(noDefPort.rlike("^[a-z][a-z0-9+.-]*://[^/?]*$"), concat(noDefPort, lit("/")))
      .otherwise(noDefPort)
  }

  /** P12 — language-variant rewrite (helpers.py:23-24 + metro:83-88). */
  def toArabicUrl(url: Column): Column =
    when(url.contains("/en/"), regexp_replace(url, "/en/", "/ar/"))
      .when(url.contains("/product/") && !url.contains("/ar/product/"),
        regexp_replace(url, "/product/", "/ar/product/"))
      .otherwise(url)

  /** P13 — Carrefour category-URL canonicalization
    * (carrefour_extract_urls.py:43-54). */
  def canonCategoryUrl(url: Column): Column =
    when(url.rlike(".*/c/.*\\d+"), url)
      .otherwise(regexp_replace(url, "^(.*/en)/.*?/clp_(.*\\d)$", "$1/c/$2"))

  /** P14 — relative->absolute href resolution
    * (metro_markets_extract_product_urls.py:62-66, oscar:36-38). */
  def absolutize(href: Column, base: String): Column =
    when(href.isNull, lit("N/A"))
      .when(href.startsWith("/"), concat(lit(base), href))
      .otherwise(href)

  /** Column host extraction from pure builtins (matches hostOf on canonical
    * URLs). */
  def hostCol(url: Column): Column =
    lower(regexp_extract(url, "^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?@]*@)?([^/?:]*)", 1))

  /** Column path-depth (matches depthOf on canonical URLs). */
  def depthCol(url: Column): Column = {
    val path = regexp_extract(url, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*(/[^?]*)", 1)
    size(filter(split(path, "/"), s => length(s) > lit(0)))
  }

  /** Canonical form + host + depth in ONE pass (one kernel call per row on
    * the frontier hot path instead of three re-parses); the native
    * `UrlCanonPartsExpr` evaluates it inside whole-stage codegen. */
  final case class CanonParts(url_norm: String, host: String, depth: Int)
  def canonParts(raw: String): CanonParts = {
    val norm = canonicalize(raw)
    CanonParts(norm, hostOf(norm), depthOf(norm))
  }
}
