package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** URL status classification + sanitation (reference P12:
  * modules/url_checker.py:24-49; F20: collectors/helpers/
  * feed_helpers.py:9-50) and the misc scalar parsers (F26/F27) — all
  * pure column expressions. */
object UrlChecker {

  /** HTTP status -> lifecycle action (reference url_checker status
    * classes: 2xx valid, 3xx needs-update, 4xx delete, else unknown). */
  def statusClass(code: Column): Column =
    when(code.between(200, 299), "VALID")
      .when(code.between(300, 399), "TO_UPDATE")
      .when(code.between(400, 499), "TO_DELETE")
      .otherwise("UNKNOWN")

  /** Truncate a url at the first illegal character and force https
    * (reference feed_helpers url repair). */
  def sanitizeUrl(url: Column): Column = {
    val truncated = regexp_extract(url, """^([^\s<>"{}|\\^`]+)""", 1)
    regexp_replace(truncated, "^http://", "https://")
  }

  /** ASCII-only HEXDIG value (RFC 3986 — Character.digit also accepts
    * Unicode digits and fullwidth hex letters, which would "decode"
    * malformed escapes like %４1 instead of passing them through). */
  private def asciiHex(c: Char): Int =
    if (c >= '0' && c <= '9') c - '0'
    else if (c >= 'a' && c <= 'f') c - 'a' + 10
    else if (c >= 'A' && c <= 'F') c - 'A' + 10
    else -1

  /** ONE %XX scan shared by every escape normalizer (frontier
    * canonicalization here, robots-rule comparison in
    * [[graft.sources.Robots]]): escapes whose decoded octet satisfies
    * `decode` are decoded (byte-level, so multi-byte UTF-8 sequences
    * reassemble), every kept escape is hex-UPPERCASED, and malformed
    * escapes (non-ASCII-HEXDIG) pass through untouched. Idempotent
    * whenever `decode` rejects '%' (0x25): the output then contains no
    * decodable escapes and '%' only as an escape introducer. */
  private[graft] def normalizeEscapes(s: String,
      decode: Int => Boolean): String = {
    if (s == null || s.indexOf('%') < 0) return s
    val out = new java.io.ByteArrayOutputStream(s.length)
    def writeStr(str: String): Unit = {
      val bs = str.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out.write(bs, 0, bs.length)
    }
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      val hex1 = if (c == '%' && i + 2 < s.length)
        asciiHex(s.charAt(i + 1)) else -1
      val hex2 = if (hex1 >= 0) asciiHex(s.charAt(i + 2)) else -1
      if (hex1 >= 0 && hex2 >= 0) {
        val b = hex1 * 16 + hex2
        if (decode(b)) out.write(b)
        else writeStr("%" +
          Character.toUpperCase(s.charAt(i + 1)) +
          Character.toUpperCase(s.charAt(i + 2)))
        i += 3
      } else { writeStr(c.toString); i += 1 }
    }
    new String(out.toByteArray,
      java.nio.charset.StandardCharsets.UTF_8)
  }

  /** RFC 3986 §2.3 unreserved octet. */
  private[graft] def isUnreserved(b: Int): Boolean =
    (b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z') ||
      (b >= '0' && b <= '9') || b == '-' || b == '.' ||
      b == '_' || b == '~'

  /** RFC 3986 §6.2.2 percent-encoding normalization, the SELECTIVE
    * form: decode ONLY escapes of unreserved characters
    * (ALPHA / DIGIT / "-" / "." / "_" / "~" — §2.3), uppercase the hex
    * of every escape kept. Reserved octets stay encoded because they
    * are semantically DISTINCT from their decoded forms: /a%2Fb and
    * /a/b are different resources, %3F in a path is data where '?'
    * is the query delimiter, and decoding %25 would make the whole
    * normalization non-idempotent. */
  private[graft] def normalizePercent(s: String): String =
    normalizeEscapes(s, isUnreserved)

  /** RFC 3986 §5.2.4 remove_dot_segments, applied AFTER percent
    * normalization (§6.2.2's step order: a dot segment hidden as
    * %2E%2E must be resolved once decoded, or canonicalization is not
    * idempotent). Operates on the percent-normalized path, where a
    * kept %2F is data — correctly NOT a segment boundary. */
  private[graft] def removeDotSegments(path: String): String = {
    val in = new java.lang.StringBuilder(path)
    val out = new java.lang.StringBuilder(path.length)
    def dropLastSegment(): Unit = {
      val idx = out.lastIndexOf("/")
      out.setLength(if (idx < 0) 0 else idx)
    }
    def startsWith(p: String): Boolean =
      in.length >= p.length && in.indexOf(p) == 0
    def is(p: String): Boolean =
      in.length == p.length && in.indexOf(p) == 0
    while (in.length > 0) {
      if (startsWith("../")) in.delete(0, 3)
      else if (startsWith("./")) in.delete(0, 2)
      else if (startsWith("/./")) in.replace(0, 3, "/")
      else if (is("/.")) in.replace(0, 2, "/")
      else if (startsWith("/../")) { in.replace(0, 4, "/"); dropLastSegment() }
      else if (is("/..")) { in.replace(0, 3, "/"); dropLastSegment() }
      else if (is(".") || is("..")) in.setLength(0)
      else {
        val start = if (in.charAt(0) == '/') 1 else 0
        val next = in.indexOf("/", start)
        val end = if (next < 0) in.length else next
        out.append(in, 0, end)
        in.delete(0, end)
      }
    }
    out.toString
  }

  /** FULL canonicalization for frontier dedup (RFC 3986 §6 syntax-based
    * normalization): lowercase scheme+host, strip default ports and
    * fragments, resolve dot segments, selective percent normalization
    * via [[normalizePercent]] (unreserved escapes decoded, reserved
    * octets like %2F/%3F/%25 KEPT — /a%2Fb and /a/b are distinct
    * resources and must not canonicalize equal), empty path -> "/",
    * query-param order SORTED (the crawl-dedup convention — two URLs
    * differing only in param order are the same fetch). Two URLs
    * canonicalizing equal are duplicate frontier entries; dedup on
    * this column instead of the raw URL typically collapses 10-20% of
    * a web frontier. Row-local UDF (URI parsing has no Catalyst form);
    * null/invalid -> null so the error channel sees them. */
  val canonicalizeUrl: Column => Column = {
    val f = udf { (url: String) =>
      if (url == null) null
      else try {
        val u = new java.net.URI(url.trim)
        val scheme = Option(u.getScheme)
          .map(_.toLowerCase(java.util.Locale.ROOT)).orNull
        val host = Option(u.getHost)
          .map(_.toLowerCase(java.util.Locale.ROOT)).orNull
        if (scheme == null || host == null) null
        else {
          val defaultPort =
            (scheme == "http" && u.getPort == 80) ||
              (scheme == "https" && u.getPort == 443)
          val port =
            if (u.getPort < 0 || defaultPort) "" else s":${u.getPort}"
          // RAW path: getPath percent-decodes everything including
          // reserved octets, conflating /a%2Fb with /a/b. RFC §6.2.2
          // step ORDER: decode unreserved escapes FIRST, then resolve
          // dot segments — a %2E%2E segment must resolve once decoded
          // or the canonical form is not a fixpoint.
          val path = Option(u.getRawPath).filter(_.nonEmpty)
            .map(p => removeDotSegments(normalizePercent(p)))
            .filter(_.nonEmpty).getOrElse("/")
          val query = Option(u.getRawQuery).map { q =>
            "?" + normalizePercent(q).split("&").sorted.mkString("&")
          }.getOrElse("")
          s"$scheme://$host$port$path$query"
        }
      } catch { case _: java.net.URISyntaxException => null }
    }
    (c: Column) => f(c)
  }

  /** Domain-membership predicate: url host equals `domain` or is a
    * subdomain of it (reference P11: feed_helpers.py:17-37). */
  def isOnDomain(url: Column, domain: String): Column = {
    val host = parse_url(url, lit("HOST"))
    host === domain || host.endsWith("." + domain)
  }

  /** ISO and compact date strings -> epoch seconds (reference F26:
    * ISO day constants.py:201; %Y%m%d pubdate conversation.py:83-97). */
  def isoDateToEpoch(date: Column): Column =
    unix_timestamp(to_timestamp(date, "yyyy-MM-dd"))

  def compactDateToEpoch(date: Column): Column =
    unix_timestamp(to_timestamp(date, "yyyyMMdd"))

  /** Duration strings like "2 hours 30 minutes" / "1h 5m" / "45 minutes"
    * -> seconds (reference F27: unccelearn.py:65-87). */
  def durationToSeconds(dur: Column): Column = {
    val norm = lower(dur)
    // regexp_extract yields "" on no match; ANSI mode (Spark 4 default)
    // rejects cast('' as long), so blank -> null explicitly
    def num(c: Column): Column =
      when(c === "", lit(null)).otherwise(c).cast("long")
    val hours = coalesce(num(regexp_extract(norm, """(\d+)\s*h""", 1)),
      lit(0L))
    val minutes = coalesce(num(regexp_extract(norm, """(\d+)\s*m""", 1)),
      lit(0L))
    val bare = num(regexp_extract(norm, """^\s*(\d+)\s*$""", 1))
    when(bare.isNotNull, bare * 60) // bare number = minutes
      .otherwise(hours * 3600 + minutes * 60)
  }
}
