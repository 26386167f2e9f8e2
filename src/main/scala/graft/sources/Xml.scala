package graft.sources

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** XML extraction as Column expressions, mirroring the reference's
  * regex-based extractor semantics (reference F29:
  * modules/xml_extractor.py:15-101 — tag content with DOTALL, attribute
  * filters, self-closing tags) and the feed collectors built on it
  * (S6 atom_collector.py:41-81, S7 rss_collector.py:15-50,
  * S8 sitemap_collector.py:29-84).
  *
  * Deliberately regex-based, not a full XML parser: the reference defines
  * its extraction semantics by regex, feeds are fetched as raw strings,
  * and regexp_extract_all stays inside codegen — each document is
  * processed row-local with no shuffle, so feed parsing scales linearly.
  */
object Xml {

  /** All occurrences of `<tag ...>content</tag>`, content captured with
    * DOTALL (reference simple_xml_tag_format_regex). */
  def tagContents(xml: Column, tag: String): Column =
    regexp_extract_all(xml,
      lit(s"(?s)<$tag(?:\\s[^>]*)?>(.*?)</$tag>"), lit(1))

  /** First occurrence of a tag's content, or empty string. */
  def tagContent(xml: Column, tag: String): Column =
    regexp_extract(xml, s"(?s)<$tag(?:\\s[^>]*)?>(.*?)</$tag>", 1)

  /** Value of `attr` on every `<tag ...>` (incl. self-closing)
    * (reference SIMPLE_XML_ATTRIBUTE_REGEX). */
  def tagAttributeValues(xml: Column, tag: String, attr: String): Column =
    regexp_extract_all(xml,
      lit(s"""<$tag\\s[^>]*?$attr="([^"]*)"[^>]*/?>"""), lit(1))

  /** Value of `attr` on `<tag>` elements that also carry
    * `filterAttr="filterValue"` — attribute order-insensitive
    * (reference xml_extractor attribute-filter mode). */
  def tagAttributeValuesFiltered(xml: Column, tag: String, attr: String,
      filterAttr: String, filterValue: String): Column = {
    val tags = regexp_extract_all(xml, lit(s"<$tag\\s[^>]*/?>"), lit(0))
    val matching = filter(tags,
      t => t.rlike(s"""$filterAttr="${filterValue}""""))
    val extracted = transform(matching,
      t => regexp_extract(t, s"""$attr="([^"]*)"""", 1))
    filter(extracted, v => length(v) > 0)
  }

  /** Atom entry links: `<entry>…<link rel="alternate" href=…>`
    * (reference S6: atom_collector.py:50-81). */
  def atomEntryLinks(xml: Column): Column = {
    val entries = regexp_extract_all(xml,
      lit("(?s)<entry(?:\\s[^>]*)?>(.*?)</entry>"), lit(1))
    val links = transform(entries, e => regexp_extract(e,
      """<link\s[^>]*?href="([^"]*)"[^>]*/?>""", 1))
    filter(links, l => length(l) > 0)
  }

  /** RSS item links: `<item>…<link>url</link>` (reference S7:
    * rss_collector.py:24-50 — a stateful line scan; same semantics). */
  def rssItemLinks(xml: Column): Column = {
    val items = regexp_extract_all(xml,
      lit("(?s)<item(?:\\s[^>]*)?>(.*?)</item>"), lit(1))
    val links = transform(items,
      i => regexp_extract(i, "(?s)<link>\\s*(.*?)\\s*</link>", 1))
    filter(links, l => length(l) > 0)
  }

  /** Sitemap `<loc>` urls (child sitemaps or page urls — reference S8). */
  def sitemapLocs(xml: Column): Column =
    transform(
      regexp_extract_all(xml, lit("(?s)<loc>\\s*(.*?)\\s*</loc>"), lit(1)),
      l => trim(l))

  /** Is this a sitemap index (fan-out needed)? (reference
    * sitemap_collector.py:29-44 sitemapindex detection). */
  def isSitemapIndex(xml: Column): Column =
    xml.rlike("<sitemapindex[\\s>]")

  /** OAI-PMH deleted-record predicate (reference P13/S13:
    * world_bank_okr.py:80-91 — header status="deleted"). */
  def oaiRecordIsDeleted(recordXml: Column): Column =
    recordXml.rlike("""<header[^>]*\sstatus="deleted"""")

  /** OAI-PMH `<record>` blocks from a ListRecords response. */
  def oaiRecords(xml: Column): Column =
    regexp_extract_all(xml,
      lit("(?s)<record(?:\\s[^>]*)?>(.*?)</record>"), lit(1))

  /** Contents of `<tag ...>` elements that carry
    * `filterAttr="filterValue"` (the reference xml_extractor's
    * attribute-filter mode over CONTENT, used for
    * `dcterms:identifier scheme="URI"`). */
  def tagContentsFiltered(xml: Column, tag: String, filterAttr: String,
      filterValue: String): Column = {
    val els = regexp_extract_all(xml,
      lit(s"(?s)<$tag\\s[^>]*>.*?</$tag>"), lit(0))
    val matching = filter(els,
      e => e.rlike(s"""$filterAttr="$filterValue""""))
    transform(matching,
      e => regexp_extract(e, s"(?s)<$tag[^>]*>(.*?)</$tag>", 1))
  }
}

/** OpenEdition Books METS metadata (reference S14:
  * collectors/oe_books_collector.py:30-133): per-book METS XML carries
  * one dmdSec per book/chapter/bibliography; a book is collectable when
  * it is openAccess AND carries an authorized CC license — then its
  * CHAPTER urls are emitted (the book url itself when there are no
  * chapters, or when the license fails so the url is kept for trace;
  * closed-access books emit nothing). */
object Mets {

  /** The reference's AUTHORIZED_LICENSES url list, enumerated literally
    * (constants.py:168-184): 15 entries — by/3.0/igo/ exists https-only,
    * so it is NOT a scheme x path cross product (ADVICE r2). */
  val authorizedLicenseUrls: Seq[String] = {
    val httpPaths = Seq("licenses/by/3.0/", "licenses/by/4.0/",
      "licenses/by-sa/4.0/", "licenses/by-sa/3.0/",
      "licenses/by-sa/3.0/igo/",
      "publicdomain/zero/1.0/", "publicdomain/mark/1.0/")
    val httpsPaths = httpPaths :+ "licenses/by/3.0/igo/"
    httpPaths.map(p => s"http://creativecommons.org/$p") ++
      httpsPaths.map(p => s"https://creativecommons.org/$p")
  }

  /** Per-dmdSec structs: (dmd_type, rights, access_rights, url). */
  def dmdStructs(xml: Column): Column =
    transform(Xml.tagContents(xml, "mets:dmdSec"), s => struct(
      lower(trim(element_at(
        Xml.tagContents(s, "dcterms:type"), 1))).as("dmd_type"),
      lower(trim(element_at(
        Xml.tagContents(s, "dcterms:rights"), 1))).as("rights"),
      lower(trim(element_at(
        Xml.tagContents(s, "dcterms:accessRights"), 1)))
        .as("access_rights"),
      trim(element_at(Xml.tagContentsFiltered(s, "dcterms:identifier",
        "scheme", "URI"), 1)).as("url")))

  /** Collectable urls for one METS document, reference decision table
    * (oe_books_collector.py:92-133). */
  def openEditionUrls(xml: Column): Column = {
    val dmds = dmdStructs(xml)
    val book = element_at(
      filter(dmds, d => d.getField("dmd_type") === "book"), 1)
    val chapters = transform(
      filter(dmds, d => d.getField("dmd_type") === "chapter"),
      d => d.getField("url"))
    val openAccess = element_at(
      split(book.getField("access_rights"), "/"), -1) === "openaccess"
    val licensed = book.getField("rights")
      .isin(authorizedLicenseUrls.map(x => x: Any): _*)
    when(book.isNull || !openAccess,
        array().cast("array<string>"))
      .when(licensed && size(chapters) > 0, chapters)
      .otherwise(array(book.getField("url")))
  }
}

/** PLOS JATS article extraction (reference plugins/scrapers/plos.py:
  * the scraper fetches `<url>/file?…&type=manuscript` and parses the
  * JATS XML). Column-level re-expression of
  * extract_data_from_plos_xml (:240-277) and _get_* helpers:
  *
  *  - full_content = `<body>` text with every nested `<title>` element
  *    dropped (BeautifulSoup decompose, :247-250), tags stripped, urls
  *    removed (ANTI_URL_REGEX, :251), backlines cleaned;
  *  - title = article-meta > article-title (:256-259);
  *  - description = every `<p>` of the abstract joined by spaces
  *    (:264-266);
  *  - doi = article-id[pub-id-type=doi], resolver prefix stripped
  *    (:123-126);
  *  - license = `<license xlink:href>`; authorized iff in the CC
  *    allow-list (:134-148, P8) — unauthorized pages become error rows
  *    upstream, not silently kept;
  *  - article_type = subj-group[subj-group-type=heading] subject text
  *    (:151-166); categories = subjects of attributed subj-groups
  *    (:205-216). */
object Plos {

  import graft.functions.TextClean

  private def cleanLines(c: Column): Column =
    trim(TextClean.stripBacklines(c))

  /** `<body>` content with nested `<title>` elements removed. */
  def bodyWithoutTitles(xml: Column): Column =
    regexp_replace(Xml.tagContent(xml, "body"),
      "(?s)<title(?:\\s[^>]*)?>.*?</title>", "")

  def fullContent(xml: Column): Column =
    cleanLines(TextClean.normalizeWhitespace(TextClean.removeUrls(
      TextClean.stripHtml(bodyWithoutTitles(xml)))))

  private def articleMeta(xml: Column): Column =
    Xml.tagContent(xml, "article-meta")

  def title(xml: Column): Column =
    cleanLines(TextClean.normalizeWhitespace(TextClean.stripHtmlTight(
      Xml.tagContent(articleMeta(xml), "article-title"))))

  /** Abstract paragraphs joined by single spaces. */
  def description(xml: Column): Column = {
    val abs = Xml.tagContent(articleMeta(xml), "abstract")
    cleanLines(TextClean.normalizeWhitespace(TextClean.stripHtmlTight(
      array_join(Xml.tagContents(abs, "p"), " "))))
  }

  def doi(xml: Column): Column =
    TextClean.cleanDoi(trim(get(Xml.tagContentsFiltered(
      articleMeta(xml), "article-id", "pub-id-type", "doi"), lit(0))))

  def licenseUrl(xml: Column): Column =
    get(Xml.tagAttributeValues(
      articleMeta(xml), "license", "xlink:href"), lit(0))

  /** P8 allow-list predicate on the article's license. */
  def licenseAuthorized(xml: Column): Column =
    coalesce(licenseUrl(xml)
      .isin(Mets.authorizedLicenseUrls.map(x => x: Any): _*), lit(false))

  def articleType(xml: Column): Column = {
    val heading = get(Xml.tagContentsFiltered(articleMeta(xml),
      "subj-group", "subj-group-type", "heading"), lit(0))
    cleanLines(TextClean.normalizeWhitespace(
      Xml.tagContent(heading, "subject")))
  }

  /** Distinct subject texts of subj-groups that carry a
    * subj-group-type attribute. */
  def categories(xml: Column): Column = {
    val groups = regexp_extract_all(articleMeta(xml),
      lit("(?s)<subj-group\\s[^>]*subj-group-type=\"[^\"]*\"[^>]*>(.*?)" +
        "</subj-group>"), lit(1))
    array_distinct(flatten(transform(groups,
      g => transform(Xml.tagContents(g, "subject"), s => trim(s)))))
  }

  /** The scraped document struct, one call per page. */
  def plosDocument(xml: Column): Column = struct(
    title(xml).as("title"),
    description(xml).as("description"),
    fullContent(xml).as("full_content"),
    doi(xml).as("external_id"),
    licenseUrl(xml).as("license_url"),
    licenseAuthorized(xml).as("license_authorized"),
    articleType(xml).as("article_type"),
    categories(xml).as("categories"))
}

/** OpenEdition Books chapter/book scraper metadata (reference
  * plugins/scrapers/oe_books.py — the content side; the METS url
  * decision table lives in [[Mets]]): urn DOI/ISBN split (:274-286),
  * "Last, First" author normalization (:288-297), license (:299-304),
  * per-language abstract with description fallback (:306-319),
  * open-access predicate (:323-334), and the chapter body =
  * div#anchor-fulltext text with span/a elements decomposed
  * (:211-225). */
object OeBooks {

  import org.apache.spark.sql.functions.udf

  /** (doi, isbn) from `dcterms:identifier scheme="URN"` entries. */
  def doiAndIsbn(xml: Column): Column = {
    val urns = Xml.tagContentsFiltered(xml, "dcterms:identifier",
      "scheme", "URN")
    struct(
      get(transform(
        filter(urns, u => u.startsWith("urn:doi:")),
        u => regexp_replace(u, "^urn:doi:", "")), lit(0)).as("doi"),
      get(transform(
        filter(urns, u => u.startsWith("urn:isbn:")),
        u => regexp_replace(u, "^urn:isbn:", "")), lit(0)).as("isbn"))
  }

  /** "Lastname, Firstname" creators -> "Firstname Lastname" structs.
    * Comma-less creators (institutions: "UNESCO") pass through as-is
    * instead of nulling out on the missing second segment. */
  def authors(xml: Column): Column =
    transform(Xml.tagContents(xml, "dcterms:creator"), c => struct(
      when(size(split(c, ",")) >= 2,
        concat(
          trim(element_at(split(c, ","), 2)), lit(" "),
          trim(element_at(split(c, ","), 1))))
        .otherwise(trim(c)).as("name"),
      lit("").as("misc")))

  def currentLicense(xml: Column): Column =
    get(Xml.tagContents(xml, "dcterms:rights"), lit(0))

  /** Abstract in `lang`, falling back to dcterms:description. */
  def description(xml: Column, lang: Column): Column = {
    val tags = regexp_extract_all(xml,
      lit("(?s)<dcterms:abstract\\s[^>]*>(.*?)</dcterms:abstract>"),
      lit(0))
    val inLang = filter(tags, t =>
      t.rlike("""xml:lang="""") && t.contains(
        concat(lit("xml:lang=\""), lang, lit("\""))))
    val abs = get(transform(inLang, t =>
      regexp_extract(t, "(?s)<dcterms:abstract[^>]*>(.*?)</dcterms:abstract>",
        1)), lit(0))
    coalesce(abs, get(
      Xml.tagContents(xml, "dcterms:description"), lit(0)))
  }

  /** Every dcterms:accessRights must end with /openaccess. */
  def isOpenAccess(xml: Column): Column = {
    val rights = Xml.tagContents(xml, "dcterms:accessRights")
    size(rights) > 0 && forall(rights, r =>
      element_at(split(lower(trim(r)), "/"), -1) === "openaccess")
  }

  private val chapterUdf = udf { (html: String) =>
    if (html == null) null
    else {
      var dom = html
      // decompose span and a elements (reference :211-218) — innermost
      // first, so nested same-name tags remove wholly like
      // BeautifulSoup decompose
      Seq("span", "a").foreach { t =>
        val innermost = s"(?is)<$t\\b[^>]*>(?:(?!</?$t\\b).)*?</$t>"
        var prev: String = null
        while (prev != dom) {
          prev = dom
          dom = dom.replaceAll(innermost, "")
        }
        dom = dom.replaceAll(s"(?is)<$t\\b[^>]*/>", "")
      }
      PeerJ.findElement(dom, "div", "id", "anchor-fulltext", 0)
        .map { s =>
          s.inner.replaceAll("(?s)<[^>]+>", "\n ")
            .replaceAll("(?m)^[ \\t]+|[ \\t]+$", "")
            .replaceAll("(\\n ?)+", "\n ").trim
        }.orNull
    }
  }

  /** Chapter body: div#anchor-fulltext text with span/a decomposed
    * (separator-joined text, whitespace-collapsed — BeautifulSoup
    * get_text("\n ") shape). */
  def chapterContent(html: Column): Column = chapterUdf(html)
}
