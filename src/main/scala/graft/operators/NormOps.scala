package graft.operators

import graft.functions.NumFns.roundHalfUp
import graft.Tables
import graft.functions.MainText
import graft.functions.TextFns._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftSqlBridge
import org.apache.spark.sql.types.StructType

/** Normalization / document-transform family — the reference's
  * `common_normalizer` pipeline (dags/normalizers/lib/normalizers.py:497)
  * re-expressed as declarative column transforms.
  *
  * Reference pieces mirrored (file:line in normalizers.py unless noted):
  *  - cleanhtml :208, strip_fields :146, remove_empty :129
  *  - readingTime :265/:287 with blacklist → -1 (:483)
  *  - description fallback = first 100 words of fulltext (:592)
  *  - add_counts `items_count_<field>` (:655 — lists → len, scalars → 1)
  *  - apply_norm_obj value mapping :54, apply_norm_prop rename/fan-out :76,
  *    apply_norm_missing defaults :90, apply_white_map :34
  *  - simplify_elements nested-JSON → dotted keys (:219)
  *  - passage splitting: normalizers/lib/nlp.py:68 `preprocess_split_doc`
  *    (fixed word windows `split_length` with `split_overlap`)
  *
  * Scale notes: every operator is a narrow per-row projection (no shuffle at
  * all except the final oracle-determinism sort); lookup maps (normObj) are
  * tiny broadcast joins so the document side never moves.
  */
object NormOps {

  // ------------------------------------------------------------ norm_clean_html

  /** Strip HTML tags + trim + drop now-empty docs: cleanhtml (:208) then the
    * strip_fields (:146) / remove_empty (:129) steps of common_normalizer.
    */
  def cleanHtmlDocs(docs: DataFrame, htmlCol: String): DataFrame =
    admitNonEmpty(docs, htmlCol, "text_clean", cleanHtml(col(htmlCol)))

  /** `docs` with `text` added as column `out` and `htmlCol` dropped, minus
    * the rows whose `text` is null or empty — the remove_empty (:129)
    * admission of the extract-then-drop operators, evaluating `text` ONCE
    * per row. A Filter on the aliased column would not: the optimizer
    * pushes it below the projection with the alias inlined, so the plan
    * carries the whole extraction in both the Filter and the Project. The
    * 0-or-1-element explode drops the empty rows inside one Generate.
    */
  private def admitNonEmpty(docs: DataFrame, htmlCol: String, out: String,
      text: Column): DataFrame =
    docs.withColumn(out, explode(filter(array(text), t => length(t) > 0)))
      .drop(htmlCol)

  /** queries() wrapper: synthesizes deterministic HTML around each document's
    * text (title/h1/p/self-closing/attribute tags all exercised).
    */
  def qNormCleanHtml(s: SparkSession, d: String): DataFrame = {
    val html = concat(
      lit("<html><head><title>Doc "), col("doc_id"),
      lit("</title></head><body><h1>Doc "), col("doc_id"),
      lit("</h1><p>"), col("text"),
      lit("</p><br/><a href=\"https://example.eu/d/"), col("doc_id"),
      lit("\">link</a> </body></html>"))
    cleanHtmlDocs(
      Tables.documents(s, d).select(col("doc_id"), html.as("html")), "html")
      .orderBy("doc_id")
  }

  // --------------------------------------------------------- norm_boilerplate

  /** Line-level boilerplate filtering — the second half of the trafilatura
    * stand-in (trafilatura_extract.py extracts MAIN content, not all text;
    * `cleanHtmlDocs` above is the reference's regex fallback that keeps
    * everything). The published content-extraction heuristics (jusText,
    * readability): a text line is content iff it has visible text, its LINK
    * DENSITY (fraction of chars inside `<a>` elements) is ≤
    * `maxLinkDensity`, and it is either ≥ `minChars` chars long or ends
    * like a sentence. Nav bars (all links), cookie banners and footer
    * copyright lines (short, no terminal punctuation) drop; prose survives.
    *
    * Mechanics: the native [[graft.functions.MainText]] kernel — block tags
    * → newlines, anchor text wrapped in \x01..\x02 sentinels, global
    * `<.*?>` strip (the reference's cleanhtml regex), then a per-line
    * filter + rejoin, all in one codegen'd call per row. Pure per-row
    * projection — zero shuffle.
    */
  def boilerplateFilter(docs: DataFrame, htmlCol: String,
      minChars: Int = 30, maxLinkDensity: Double = 0.5): DataFrame =
    admitNonEmpty(docs, htmlCol, "text_main",
      mainText(col(htmlCol), minChars, maxLinkDensity))

  /** The columnar heart of [[boilerplateFilter]] — main-content text of one
    * HTML column (the trafilatura stand-in, SURVEY §6), reusable where the
    * caller needs the value without the empty-doc row filter (the NLP
    * preprocessor's extract-else-fallback chain, nlp.py:16-18).
    */
  def mainText(html: Column,
      minChars: Int = 30, maxLinkDensity: Double = 0.5): Column =
    GraftSqlBridge.column(MainText(GraftSqlBridge.expression(html),
      minChars, maxLinkDensity, selectContainer = false))

  // --------------------------------------------------------- main_text_blocks

  /** The FULL trafilatura-class extraction — container selection THEN the
    * line-level density filter (the reference's get_text_from_html,
    * trafilatura_extract.py:69-125: patched BODY_XPATH main-container
    * selection, then trafilatura.extract with favor_recall=True):
    *
    *  1. [[graft.functions.MainContainer]] picks the main-content element
    *     by the reference's five-tier patched BODY_XPATH priority (first
    *     match in document order per tier, lower tier wins) and prunes
    *     noise subtrees (script/style/head/nav/header/footer/aside/…)
    *     PLUS link-farm blocks — div/list/table subtrees whose visible
    *     text is mostly anchor text drop whole (trafilatura's
    *     delete_by_link_density stage; element-level, so a farm's one
    *     prose-shaped line goes down with its block instead of surviving
    *     the line filter); no tier match → the whole document, same
    *     pruning.
    *  2. [[mainText]]'s line filter (link density + length/punctuation)
    *     drops residual boilerplate lines inside the container.
    *  3. favor_recall: a container whose extraction comes out EMPTY falls
    *     back to extracting over the whole page (still noise-pruned —
    *     `MainContainer.pruneAll`), like trafilatura's
    *     recall-biased baseline retry — better too much text than an
    *     empty fulltext feeding readingTime/passages/embeddings.
    *
    * vs [[boilerplateFilter]] alone: the line filter keeps prose-shaped
    * text ANYWHERE in the page (sidebar teasers, long footer legalese);
    * container selection drops everything outside the main element first,
    * which is exactly what trafilatura adds over a density filter. All
    * three steps are one [[graft.functions.MainText]] kernel call per row:
    * pure per-row projection, zero shuffle, inside whole-stage codegen.
    *
    * NOTE `maxLinkDensity` parameterizes the LINE filter only; the
    * element-level farm threshold inside the kernel is fixed at 0.5
    * (`MainContainer.FarmLinkDensity`), like trafilatura's own
    * element-deletion constants — raising `maxLinkDensity` above 0.5
    * relaxes which lines survive inside KEPT blocks, not which blocks
    * drop.
    */
  def mainTextBlocks(html: Column,
      minChars: Int = 30, maxLinkDensity: Double = 0.5): Column =
    GraftSqlBridge.column(MainText(GraftSqlBridge.expression(html),
      minChars, maxLinkDensity, selectContainer = true))

  /** [[mainTextBlocks]] over a DataFrame column, dropping docs that come
    * out empty both ways (same admission contract as [[boilerplateFilter]]).
    */
  def mainContentExtract(docs: DataFrame, htmlCol: String,
      minChars: Int = 30, maxLinkDensity: Double = 0.5): DataFrame =
    admitNonEmpty(docs, htmlCol, "text_main",
      mainTextBlocks(col(htmlCol), minChars, maxLinkDensity))

  /** queries() wrapper: a real-shaped page — header nav, a prose-like
    * sidebar teaser and a long footer line (both of which a line filter
    * ALONE would keep), and a tier-1 `article-content` main container
    * holding the document text plus a closing paragraph. Only the
    * container's two paragraphs may survive — the sidebar/footer prose
    * dropping is exactly the capability container selection adds.
    */
  def qMainTextBlocks(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val html = concat(
      lit("<html><head><title>Doc "), id,
      lit("</title><style>body{margin:0}</style></head><body>"),
      lit("<header><nav><a href=\"/\">Home</a> <a href=\"/data\">Data</a> <a href=\"/about\">About</a></nav></header>"),
      lit("<div class=\"sidebar\"><p>Related reading: a long prose-shaped teaser sentence that any line filter keeps on its own merits.</p></div>"),
      lit("<div class=\"article-content\"><h1>Doc "), id, lit("</h1><p>"),
      col("text"),
      // An IN-CONTAINER link farm with one prose-shaped low-density line:
      // the element-level density pass must drop the whole block (the line
      // filter alone would keep the teaser line — the closed trafilatura
      // divergence), so the oracle's expected text is farm-free.
      lit("</p><div class=\"related-items\"><ul>" +
        "<li><a href=\"/rel/1\">Related reading with a prose-length anchor text one</a></li>" +
        "<li><a href=\"/rel/2\">Related reading with a prose-length anchor text two</a></li>" +
        "</ul><p>Browse all related items in the <a href=\"/cat\">catalogue</a> today.</p></div>" +
        "<p>Published by "), col("source"), lit(" as document "), id,
      lit(" with a closing sentence for the density filter.</p></div>"),
      lit("<footer><p>All rights on this long copyright footer line are reserved by the site owners.</p></footer>"),
      lit("</body></html>"))
    mainContentExtract(
      Tables.documents(s, d).select(id, html.as("html")), "html")
      .select("doc_id", "text_main")
      .orderBy("doc_id")
  }

  /** queries() wrapper: wraps each document's text in a page skeleton whose
    * boilerplate is real-shaped — an all-links nav, a short cookie banner, a
    * footer copyright line, a title — and expects only the prose to survive.
    */
  def qNormBoilerplate(s: SparkSession, d: String): DataFrame = {
    val html = concat(
      lit("<html><head><title>Doc "), col("doc_id"), lit("</title></head><body>"),
      lit("""<nav><a href="/">Home</a> <a href="/about">About</a> <a href="/contact">Contact</a></nav>"""),
      lit("""<div class="cookie">We use cookies</div>"""),
      lit("<p>"), col("text"), lit("</p>"),
      lit("<footer>Copyright example-site</footer></body></html>"))
    boilerplateFilter(
      Tables.documents(s, d).select(col("doc_id"), html.as("html")), "html")
      .select("doc_id", "text_main")
      .orderBy("doc_id")
  }

  // --------------------------------------------------------- norm_reading_time

  /** readingTime = `\w+` count / 228 wpm; blacklisted docs get -1
    * (normalizers.py:287, :483 — the reference blacklists by @type; here the
    * predicate is a column so any type test plugs in).
    */
  def addReadingTime(docs: DataFrame, textCol: String, blacklisted: Column): DataFrame =
    docs
      .withColumn("n_words", wordCount(col(textCol)))
      .withColumn(
        "reading_time",
        when(blacklisted, lit(-1.0)).otherwise(
          roundHalfUp(col("n_words") / lit(228.0), 4)))

  def qNormReadingTime(s: SparkSession, d: String): DataFrame =
    addReadingTime(Tables.documents(s, d), "text", blacklisted = col("source") === "src0")
      .select("doc_id", "n_words", "reading_time")
      .orderBy("doc_id")

  // --------------------------------------------------------- norm_description

  /** Description fallback: keep an existing non-empty description, else the
    * first 100 words of fulltext (normalizers.py:590-593; Python falsy test
    * covers both NULL and "").
    */
  def fillDescription(docs: DataFrame, descCol: String, fulltextCol: String): DataFrame = {
    // the reference's fallback reads normalized_doc.get("description") —
    // a doc with no description key at all takes the fulltext branch
    val base =
      if (docs.columns.contains(descCol)) col(descCol)
      else lit(null).cast(org.apache.spark.sql.types.StringType)
    docs.withColumn(
      "description",
      when(base.isNull || base === "", firstWords(col(fulltextCol), 100))
        .otherwise(base))
  }

  /** queries() wrapper: 1/3 of docs have a description, 1/3 carry the empty
    * string (Python-falsy), 1/3 NULL — all three reference paths exercised.
    */
  def qNormDescription(s: SparkSession, d: String): DataFrame = {
    val existing = when(col("doc_id") % 3 === 0,
      concat(lit("Existing description for doc "), col("doc_id")))
      .when(col("doc_id") % 3 === 1, lit(""))
      .otherwise(lit(null).cast("string"))
    fillDescription(
      Tables.documents(s, d).select(col("doc_id"), col("text"), existing.as("description_raw")),
      "description_raw", "text")
      .select("doc_id", "description")
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------- norm_add_counts

  /** withColumn-chain semantics in ONE projection — one analyzer pass
    * instead of one per column (each withColumn call re-analyzes the whole
    * plan; the site normalizer chains measured as almost pure Catalyst
    * time at gate scale). Equivalent to a sequential withColumn fold ONLY
    * when no right-hand side reads a column written earlier in the same
    * batch — every call site here satisfies that by construction (each
    * expression references the input frame's columns). Existing names are
    * replaced in place, new names append in `cols` order, matching
    * withColumn's layout.
    */
  private[operators] def withColumnsBatch(
      docs: DataFrame, cols: Seq[(String, Column)]): DataFrame = {
    val names = docs.columns
    val byName = cols.toMap
    val q = (n: String) => col("`" + n + "`")
    val kept = names.map(n => byName.get(n).map(_.as(n)).getOrElse(q(n)))
    val added = cols.collect { case (n, c) if !names.contains(n) => c.as(n) }
    docs.select(kept ++ added: _*)
  }

  /** add_counts (normalizers.py:655): `items_count_<field>` = len for list
    * fields, 1 for scalars.
    */
  def addCounts(docs: DataFrame, listCols: Seq[String], scalarCols: Seq[String]): DataFrame =
    withColumnsBatch(docs,
      listCols.map(c => s"items_count_$c" -> size(col(c)).cast("long")) ++
        scalarCols.map(c => s"items_count_$c" -> lit(1L)))

  /** queries() wrapper: topics = distinct first-10 words (a synthetic list
    * field); lang stays scalar.
    */
  def qNormAddCounts(s: SparkSession, d: String): DataFrame =
    addCounts(
      Tables.documents(s, d)
        .select(col("doc_id"),
          array_distinct(slice(spaceTokens(col("text")), 1, 10)).as("topics"),
          col("lang")),
      listCols = Seq("topics"), scalarCols = Seq("lang"))
      .select("doc_id", "items_count_topics", "items_count_lang")
      .orderBy("doc_id")

  // --------------------------------------------------------------- norm_maps

  /** The black/white-map + normObj + normProp + normMissing family as one
    * composable step:
    *  - `valueMap` (normObj :54): map values through a tiny broadcast lookup,
    *    unmapped values pass through;
    *  - `whitelist` (whiteMap :34): scalar values outside the whitelist → NULL;
    *  - normProp (:76): fan a column out under additional names;
    *  - normMissing (:90): constant default for a missing/NULL field.
    */
  def normMaps(
      docs: DataFrame,
      valueCol: String,
      valueMap: DataFrame, // (k, v) — tiny, broadcast
      whitelistCol: String,
      whitelist: Seq[String],
      fanOut: (String, Seq[String]),
      missingDefaults: Map[String, String],
      // apply_norm_missing's `field:<name>` form (normalizers.py:96): a
      // missing/NULL field fills from ANOTHER field's value, not a constant.
      missingFieldRefs: Map[String, String] = Map.empty): DataFrame = {
    val mapped = docs
      .join(broadcast(valueMap), docs(valueCol) === valueMap("k"), "left")
      .withColumn(s"${valueCol}_norm", coalesce(col("v"), col(valueCol)))
      .drop("k", "v")
    val whitelisted = mapped.withColumn(
      s"${whitelistCol}_white",
      when(col(whitelistCol).isInCollection(whitelist), col(whitelistCol)))
    val fanned = fanOut._2.foldLeft(whitelisted)((df, n) => df.withColumn(n, col(fanOut._1)))
    val defaulted = missingDefaults.foldLeft(fanned) { case (df, (c, dflt)) =>
      if (df.columns.contains(c)) df.withColumn(c, coalesce(col(c), lit(dflt)))
      else df.withColumn(c, lit(dflt))
    }
    missingFieldRefs.foldLeft(defaulted) { case (df, (c, ref)) =>
      if (df.columns.contains(c)) df.withColumn(c, coalesce(col(c), col(ref)))
      else df.withColumn(c, col(ref))
    }
  }

  def qNormMaps(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    val langMap = Seq(
      "en" -> "English", "de" -> "German", "fr" -> "French",
      "es" -> "Spanish", "it" -> "Italian").toDF("k", "v")
    // publisher exercises the field-ref fill: NULL for every 4th doc, and
    // the missing `creator` column materializes entirely from `source`.
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        when(col("doc_id") % 4 =!= 0, concat(lit("pub_"), col("source"))).as("publisher"))
    normMaps(
      docs,
      valueCol = "lang", valueMap = langMap,
      whitelistCol = "source", whitelist = Seq("src0", "src1", "src2"),
      fanOut = ("n_chars", Seq("size_chars")),
      missingDefaults = Map("rights" -> "CC-BY-4.0"),
      missingFieldRefs = Map("publisher" -> "source", "creator" -> "source"))
      .select("doc_id", "lang_norm", "source_white", "n_chars", "size_chars",
        "rights", "publisher", "creator")
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------- norm_add_format

  /** addFormat (normalizers.py:391): a doc that carries extracted pdf text
    * advertises "application/pdf" in its `formats` list — unless it already
    * carries one of the allowed word/pdf content types. The scalar format
    * column is promoted to a list first (the reference wraps non-list
    * values), missing formats become "unknown".
    */
  def addPdfFormat(docs: DataFrame, formatCol: String, pdfTextCol: String,
      allowedTypes: Seq[String]): DataFrame = {
    val fmts = array(coalesce(col(formatCol), lit("unknown")))
    val hasAllowed = exists(fmts, f => f.isInCollection(allowedTypes))
    val hasPdfText = col(pdfTextCol).isNotNull && col(pdfTextCol) =!= ""
    docs.withColumn(
      "formats",
      when(hasPdfText && !hasAllowed, concat(fmts, array(lit("application/pdf"))))
        .otherwise(fmts))
  }

  def qNormAddFormat(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val docs = Tables.documents(s, d).select(
      id,
      when(id % 3 === 0, lit("text/html"))
        .when(id % 3 === 1, lit("application/pdf")).as("format"),
      when(id % 2 === 0, concat(lit("pdf text of doc "), id)).otherwise(lit("")).as("pdf_text"))
    addPdfFormat(docs, "format", "pdf_text",
      allowedTypes = Seq(
        "application/msword",
        "application/vnd.openxmlformats-officedocument.wordprocessingml.document",
        "application/vnd.ms-word.document.macroEnabled.12",
        "application/pdf"))
      .select(id, array_join(col("formats"), "|").as("formats"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------------------ text_passages

  /** Passage splitting (nlp.py:68 `preprocess_split_doc`): fixed word windows
    * of `splitLength` starting every `splitLength - overlap` words. One
    * generator expression per doc — scales linearly, no shuffle.
    */
  def textPassages(docs: DataFrame, textCol: String, splitLength: Int, overlap: Int): DataFrame = {
    require(overlap < splitLength, "overlap must be smaller than splitLength")
    val stride = splitLength - overlap
    docs
      .withColumn("w", spaceTokens(col(textCol)))
      .select(
        col("*"),
        posexplode(sequence(lit(0), size(col("w")) - 1, lit(stride)))
          .as(Seq("passage_id", "start")))
      .select(
        col("doc_id"),
        col("passage_id").cast("long").as("passage_id"),
        least(lit(splitLength), size(col("w")) - col("start")).cast("long").as("n_words"),
        array_join(slice(col("w"), col("start") + 1, lit(splitLength)), " ").as("passage"))
  }

  def qTextPassages(s: SparkSession, d: String): DataFrame =
    textPassages(Tables.documents(s, d), "text", splitLength = 60, overlap = 15)
      .orderBy("doc_id", "passage_id")

  // -------------------------------------------------------------- norm_themes

  /** merge_themes + update_from_theme_taxonomy (normalizers.py:403-:421):
    * original themes ∪ taxonomy tokens, each mapped through the taxonomy
    * (token → label, unmapped tokens pass through). The taxonomy is a tiny
    * broadcast lookup; output order is normalized by sorting so results are
    * deterministic under any partitioning.
    */
  def mergeThemes(
      docs: DataFrame, // (doc_id, themes: array<string>, taxonomy_themes: array<string>)
      taxonomy: DataFrame // (token, label) — tiny, broadcast
  ): DataFrame = {
    val exploded = docs
      .select(col("doc_id"),
        explode(array_union(col("themes"), col("taxonomy_themes"))).as("token"))
      .join(broadcast(taxonomy), Seq("token"), "left")
      .select(col("doc_id"), coalesce(col("label"), col("token")).as("theme"))
    exploded
      .groupBy("doc_id")
      .agg(array_sort(array_distinct(collect_list("theme"))).as("themes"))
      .select(col("doc_id"), array_join(col("themes"), "|").as("themes_merged"))
  }

  def qNormThemes(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    val taxonomy = Seq(
      "data" -> "Data & Maps", "water" -> "Water", "query" -> "Queries",
      "join" -> "Joins", "stream" -> "Streaming").toDF("token", "label")
    val w = spaceTokens(col("text"))
    val docs = Tables.documents(s, d).select(
      col("doc_id"),
      slice(w, 1, 3).as("themes"),
      slice(w, 4, 2).as("taxonomy_themes"))
    mergeThemes(docs, taxonomy).orderBy("doc_id")
  }

  // --------------------------------------------------------- taxonomy_merge

  /** The theme-taxonomy build (d0_update_themetaxonomy.py:15-51): parse
    * VDEX topics XML — term blocks carrying a termIdentifier and an
    * en-language caption langstring (:22-34) — one regex pass + explode,
    * the same idiom as sitemap parsing.
    */
  def taxonomyTerms(docs: DataFrame, xmlCol: String): DataFrame =
    docs
      .select(col(xmlCol),
        posexplode(regexp_extract_all(col(xmlCol), lit("(?s)<term>(.*?)</term>"), lit(1)))
          .as(Seq("term_pos", "term")))
      .withColumn("token",
        regexp_extract(col("term"), "<termIdentifier>([^<]*)</termIdentifier>", 1))
      .withColumn("label", regexp_extract(col("term"),
        "(?s)<langstring[^>]*language=\"en\"[^>]*>([^<]*)</langstring>", 1))
      // a term with no termIdentifier or no en caption extracts "" — the
      // reference would crash on it (findall(...)[0]); dropping it keeps a
      // malformed term from overwriting a good vocabulary label downstream
      .filter(col("token") =!= "" && col("label") =!= "")
      .drop(xmlCol, "term")

  /** Merge the site vocabulary (token → title, :44-46) with the parsed
    * VDEX terms — the XML terms are applied SECOND in the reference's
    * dict update, so they win on token conflicts (:48-50), and a token
    * repeated WITHIN the XML keeps its LAST occurrence, exactly the dict
    * semantics (max_by alone is nondeterministic on ties; the ranking
    * struct makes the document-order position the tie-break). The merged
    * (token, label) table is the broadcast side of [[mergeThemes]].
    */
  def mergeTaxonomy(vocab: DataFrame, xmlTerms: DataFrame): DataFrame =
    vocab.select(col("token"), col("label"),
        struct(lit(1).as("prio"), lit(0L).as("pos")).as("rank"))
      .unionByName(xmlTerms.select(col("token"), col("label"),
        struct(lit(2).as("prio"), col("term_pos").cast("long").as("pos")).as("rank")))
      .groupBy("token")
      .agg(max_by(col("label"), col("rank")).as("label"))

  /** queries() wrapper: vocabulary entries for even ids, one VDEX document
    * with terms for every third id (the en langstring sits AFTER a de one
    * — the language filter, not position, must pick it); thirds win the
    * token conflicts.
    */
  def qTaxonomyMerge(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val docs = Tables.documents(s, d)
    val vocab = docs.filter(id % 2 === 0)
      .select(concat(lit("t"), id).as("token"),
        concat(lit("Vocab "), id).as("label"))
    val termXml = concat(
      lit("<term><termIdentifier>t"), id,
      lit("</termIdentifier><caption><langstring language=\"de\">De "), id,
      lit("</langstring><langstring language=\"en\">Xml "), id,
      lit("</langstring></caption></term>"))
    val xml = docs.filter(id % 3 === 0)
      .select(id, termXml.as("t"))
      .groupBy()
      .agg(concat(lit("<vdex>"),
        array_join(array_sort(collect_list(struct(id, col("t")))).getField("t"), ""),
        lit("</vdex>")).as("xml"))
    mergeTaxonomy(vocab, taxonomyTerms(xml, "xml"))
      .orderBy("token")
  }

  // --------------------------------------------------------- norm_provenance

  /** Data-provenance dedup (normalizers.py:437 `get_data_provenance`): keep
    * the FIRST occurrence of each (link, organisation, title) triple per doc,
    * then the distinct organisations. One window over (doc, triple) — scales
    * with provenance rows, which are tiny next to fulltext.
    */
  def provenanceDedup(prov: DataFrame): DataFrame = {
    // (doc_id, pos, link, organisation, title)
    val firstOfTriple = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id", "link", "organisation", "title").orderBy("pos")
    prov
      .withColumn("rn", row_number().over(firstOfTriple))
      .filter(col("rn") === 1)
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_provenances"),
        array_join(array_sort(array_distinct(collect_list("organisation"))), "|")
          .as("organisations"))
  }

  /** queries() wrapper: 4 provenance rows per doc with planted duplicate
    * triples (pos 3 repeats pos 1's triple; orgs cycle mod 3).
    */
  def qNormProvenance(s: SparkSession, d: String): DataFrame = {
    val prov = Tables.documents(s, d)
      .select(col("doc_id"), explode(sequence(lit(0), lit(3))).as("pos"))
      .select(
        col("doc_id"), col("pos"),
        concat(lit("https://prov.example.eu/"), (col("doc_id") + col("pos") % 3) % 7).as("link"),
        concat(lit("org"), (col("doc_id") + col("pos") % 3) % 3).as("organisation"),
        concat(lit("title"), (col("doc_id") + col("pos") % 3) % 5).as("title"))
    provenanceDedup(prov).orderBy("doc_id")
  }

  // ------------------------------------------------------------ passage_clean

  /** The `clean_*` knobs the reference passes to its NLP splitter
    * (nlp.py:70-79 — clean_header_footer / clean_whitespace /
    * clean_empty_lines, the published haystack PreProcessor semantics),
    * applied in the PreProcessor's order:
    *
    *  1. header/footer: pages split on `\f`; when the FIRST (resp. LAST)
    *     line is identical across all pages of a multi-page doc it is a
    *     running header (footer) and strips from every page. (haystack
    *     matches longest common prefix/suffix char runs; line granularity
    *     is the relational form — a running header IS a line.)
    *  2. whitespace: leading/trailing blanks strip from every line
    *     (`(?m)` multiline regex, one pass over the whole text).
    *  3. empty lines: runs of 3+ newlines collapse to exactly 2.
    *
    * All three are per-row string expressions — zero shuffle.
    */
  def passageClean(docs: DataFrame, textCol: String,
      cleanWhitespace: Boolean = true, cleanEmptyLines: Boolean = true,
      cleanHeaderFooter: Boolean = false): DataFrame = {
    var c: Column = col(textCol)
    if (cleanHeaderFooter) {
      val pages = split(c, "\f")
      val firsts = transform(pages, p => element_at(split(p, "\n"), 1))
      val lasts = transform(pages, p => element_at(split(p, "\n"), -1))
      val headerDup = size(pages) > 1 && size(array_distinct(firsts)) === 1
      val footerDup = size(pages) > 1 && size(array_distinct(lasts)) === 1
      val stripped = transform(pages, p => {
        val lines = split(p, "\n")
        val start = when(headerDup, lit(2)).otherwise(lit(1))
        val len = greatest(lit(0),
          size(lines) - start + lit(1) - when(footerDup, lit(1)).otherwise(lit(0)))
        array_join(slice(lines, start, len), "\n")
      })
      c = array_join(stripped, "\f")
    }
    // (?d): Java MULTILINE anchors also fire around \r/U+0085/U+2028/U+2029;
    // Python's (?m) and RE2's multiline are \n-only. UNIX_LINES aligns Java
    // with both, so "pad \r\n" keeps its \r-adjacent spaces identically.
    if (cleanWhitespace) c = regexp_replace(c, "(?dm)^[ \\t]+|[ \\t]+$", "")
    if (cleanEmptyLines) c = regexp_replace(c, "\n{3,}", "\n\n")
    docs.withColumn("text_clean", c)
  }

  /** queries() wrapper: two pages sharing a running header and footer,
    * padded lines, and a 4-newline run — all three cleans fire.
    */
  def qPassageClean(s: SparkSession, d: String): DataFrame = {
    val full = concat(
      lit("DOC HEADER\n  "), col("text"),
      lit("  \n\n\n\nmid\nDOC FOOTER\fDOC HEADER\nsecond page body\nDOC FOOTER"))
    passageClean(
      Tables.documents(s, d).select(col("doc_id"), full.as("fulltext")),
      "fulltext", cleanHeaderFooter = true)
      .select("doc_id", "text_clean")
      .orderBy("doc_id")
  }

  // ----------------------------------------------------- text_passages_sent

  case class SentencePassage(doc_id: Long, passage_id: Int, n_words: Int, passage: String)

  /** Sentence-boundary-respecting passage splitting — the reference's
    * `split_respect_sentence_boundary` mode (nlp.py:68): sentences pack
    * greedily into passages of at most `splitLength` words; a passage never
    * splits a sentence unless a single sentence alone exceeds the budget.
    *
    * The greedy fold is inherently sequential per document, so this is the
    * one operator implemented as a typed flatMap instead of expressions —
    * still linear, partition-local, and shuffle-free.
    */
  def sentencePassages(docs: DataFrame, textCol: String, splitLength: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col("doc_id").cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val sents = text.split("(?<=[.!?])\\s+").iterator.filter(_.nonEmpty)
        val out = Seq.newBuilder[SentencePassage]
        var pid = 0
        var words = 0
        val buf = new StringBuilder
        def flush(): Unit = if (words > 0) {
          out += SentencePassage(id, pid, words, buf.toString)
          pid += 1; words = 0; buf.clear()
        }
        sents.foreach { s =>
          val n = s.split("\\s+").length
          if (words > 0 && words + n > splitLength) flush()
          if (buf.nonEmpty) buf.append(' ')
          buf.append(s); words += n
        }
        flush()
        out.result()
      }
      .toDF()
  }

  def qTextPassagesSent(s: SparkSession, d: String): DataFrame = {
    // synthesize sentence structure: a period after every 12th word
    val sentText = regexp_replace(col("text"), "((?:\\S+\\s+){11}\\S+)\\s+", "$1. ")
    sentencePassages(
      Tables.documents(s, d).select(col("doc_id"), sentText.as("text")),
      "text", splitLength = 50)
      .orderBy("doc_id", "passage_id")
  }

  // ------------------------------------------------------------ norm_coverage

  /** The normalizer "coverage tail" — six reference functions applied in
    * their `common_normalizer` order (file:line in normalizers.py):
    *  - fetch_geo_coverage (:309): spatial = the non-null labels of
    *    `geo_coverage.geolocation`, set only when at least one exists;
    *  - fetch_temporal_coverage (:320): time_coverage = the labels of
    *    `temporal_coverage.temporal`, set only when non-empty;
    *  - add_places (:156): places mirrors spatial whenever spatial exists;
    *  - merge_types (:329): the scalar `@type` promoted to a list and
    *    extended with whitelisted `object_provides` interfaces;
    *  - update_language (:348): language falls back to `language.token`,
    *    then "en" (the dict-get fallback chain as coalesce — a NULL column
    *    plays the missing-key role);
    *  - fix_state (:353): a File in `visible` state inherits the parent
    *    review state; `archived` without an expiry gets `archivedExpires`
    *    (the reference stamps today−2d at run time — a parameter here so
    *    results are deterministic; both rules apply sequentially, so a
    *    parent state of "archived" feeds the expiry rule, like the
    *    reference's in-place dict mutation).
    *
    * Expected input columns: doc_id, geo_labels: array<string> (nullable
    * elements), temporal_labels: array<string>, language, language_token,
    * type_raw, object_provides: array<string>, obj_provides_type,
    * workflow_state, parent_review_state, expires.
    *
    * Every rule is a per-row projection — zero shuffle at any scale.
    */
  def normCoverage(docs: DataFrame, allowedProvides: Seq[String], archivedExpires: String): DataFrame = {
    val geo = filter(col("geo_labels"), x => x.isNotNull)
    val fixedState = when(
      col("obj_provides_type") === "File" && col("workflow_state") === "visible",
      col("parent_review_state")).otherwise(col("workflow_state"))
    docs
      .withColumn("spatial", when(size(geo) > 0, geo))
      .withColumn("time_coverage",
        when(size(col("temporal_labels")) > 0, col("temporal_labels")))
      .withColumn("places", col("spatial"))
      .withColumn("types", concat(array(col("type_raw")),
        filter(col("object_provides"), x => x.isInCollection(allowedProvides))))
      .withColumn("language", coalesce(col("language"), col("language_token"), lit("en")))
      .withColumn("workflow_state", fixedState)
      .withColumn("expires",
        when(col("workflow_state") === "archived" &&
          (col("expires").isNull || col("expires") === ""), lit(archivedExpires))
          .otherwise(col("expires")))
  }

  /** queries() wrapper: synthesizes every reference branch deterministically —
    * null geo labels (filtered), all-null geo rows (spatial stays NULL, so
    * places stays NULL), empty temporal lists, missing language and token,
    * File+visible state inheritance, archived docs with and without expiry.
    */
  def qNormCoverage(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val docs = Tables.documents(s, d).select(
      id,
      array(
        when(id % 4 === 0, lit(null).cast("string")).otherwise(concat(lit("geo"), id % 5)),
        when(id % 3 === 0, concat(lit("region"), id % 7)).otherwise(lit(null).cast("string")))
        .as("geo_labels"),
      when(id % 5 === 0, array().cast("array<string>"))
        .otherwise(array(concat(lit("range"), id % 9))).as("temporal_labels"),
      when(id % 5 === 0, lit(null).cast("string")).otherwise(col("lang")).as("language"),
      when(id % 7 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("tok_"), col("lang"))).as("language_token"),
      when(id % 2 === 0, lit("File")).otherwise(lit("Article")).as("type_raw"),
      array(
        when(id % 6 === 0, lit("Products.EEAContentTypes.content.interfaces.ICountryProfile"))
          .otherwise(lit("eea.core.interfaces.IOther")),
        lit("plone.base.interfaces.IItem")).as("object_provides"),
      when(id % 2 === 0, lit("File")).otherwise(lit("Document")).as("obj_provides_type"),
      when(id % 3 === 0, lit("visible")).when(id % 3 === 1, lit("archived"))
        .otherwise(lit("published")).as("workflow_state"),
      lit("published").as("parent_review_state"),
      when(id % 2 === 0, lit("2030-01-01")).otherwise(lit(null).cast("string")).as("expires"))
    normCoverage(docs,
      allowedProvides = Seq("Products.EEAContentTypes.content.interfaces.ICountryProfile"),
      archivedExpires = "2026-08-10")
      .select(id,
        array_join(col("spatial"), "|").as("spatial"),
        array_join(col("time_coverage"), "|").as("time_coverage"),
        array_join(col("places"), "|").as("places"),
        array_join(col("types"), "|").as("types"),
        col("language"), col("workflow_state"), col("expires"))
      .orderBy("doc_id")
  }

  // ----------------------------------------------------------- norm_join_text

  /** join_text_fields (normalizers.py:162): fulltext assembly. The title goes
    * first with the Python-falsy "no title" fallback (:169: `or "no title"`
    * catches both missing and empty) and a forced dot; then each configured
    * text/html prop is cleaned (`cleanhtml` :208), dot-terminated when it
    * does not already end with one (:182), and appended only when non-empty
    * AND not already contained in the accumulated text — the reference's
    * redundancy guard (:185). The inherently sequential contains-fold
    * becomes a nested expression over the fixed prop list: per-row, fully
    * codegen'd, zero shuffle.
    */
  def joinTextFields(docs: DataFrame, baseCol: String, titleCol: String, propCols: Seq[String]): DataFrame = {
    val title = when(col(titleCol).isNull || col(titleCol) === "", lit("no title"))
      .otherwise(col(titleCol))
    val start = concat(col(baseCol), lit("\n\n"), title, lit(".\n\n"))
    val full = propCols.foldLeft(start) { (acc, p) =>
      val cleaned = cleanHtml(col(p))
      val dotted = when(length(cleaned) > 0 && !cleaned.endsWith("."), concat(cleaned, lit(".")))
        .otherwise(cleaned)
      when(length(dotted) > 0 && !contains(acc, dotted), concat(acc, dotted, lit("\n\n")))
        .otherwise(acc)
    }
    docs.withColumn("fulltext", full)
  }

  /** queries() wrapper: title exercises null/empty/"no title" fallbacks; one
    * HTML prop gets cleaned+appended; a second prop cleans to the SAME text
    * and must be skipped by the redundancy guard; every third doc has both
    * props empty (length guard).
    */
  def qNormJoinText(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val docs = Tables.documents(s, d).select(
      id, col("text"),
      when(id % 4 === 0, lit(null).cast("string"))
        .when(id % 4 === 1, lit(""))
        .otherwise(concat(lit("Title "), id)).as("title"),
      when(id % 3 === 0, lit(""))
        .otherwise(concat(lit("<p>Summary for doc "), id, lit("</p>"))).as("summary"),
      when(id % 3 === 0, lit(""))
        .otherwise(concat(lit("Summary for doc "), id)).as("abstract_txt"))
    joinTextFields(docs, "text", "title", Seq("summary", "abstract_txt"))
      .select(id, col("fulltext"))
      .orderBy("doc_id")
  }

  // --------------------------------------------------------- nlp_preprocess

  /** `common_preprocess` (nlp.py:14-63) — the text-assembly half of the
    * reference's NLP preprocessor, the per-site front door every
    * register_nlp_preprocessor wrapper funnels through:
    *
    *  1. main-content text from the page HTML ([[mainText]], the
    *     trafilatura stand-in — nlp.py:16-17);
    *  2. if that is empty, assemble from the raw doc's fields
    *     (join_text_fields, normalizers.py:162-202): "no title" fallback
    *     title, then the `txtProps` whitelist in order (struct props read
    *     `.data`), each cleaned, dotted, and appended under the
    *     redundancy guard;
    *  3. the auto-discovery pass (:187-202): every struct-typed prop
    *     carrying `content-type`+`data` fields and not blacklisted —
    *     `text/plain` data appended raw, `text/html` cleaned, others
    *     skipped. The reference walks dict keys at runtime; a DataFrame's
    *     schema is static, so the walk happens at PLAN time over
    *     `docs.schema` — same semantics, zero per-row reflection;
    *  4. append the PDF sidecar text (nlp.py:24-26, always with the
    *     `\n\n` separator, empty or not).
    *
    * Pure per-row projection — zero shuffle, scales linearly.
    */
  def nlpPreprocess(docs: DataFrame, htmlCol: String = "web_html",
      pdfCol: String = "pdf_text", titleCol: String = "title",
      txtProps: Seq[String] = Nil, txtPropsBlack: Seq[String] = Nil,
      removeSelectors: Seq[String] = Nil,
      containerSelect: Boolean = false,
      mainSelector: Option[String] = None): DataFrame = {
    val schema = docs.schema
    def structFields(name: String): Seq[String] = schema.find(_.name == name)
      .map(_.dataType).collect { case s: StructType => s.fieldNames.toSeq }
      .getOrElse(Nil)

    // join_text_fields :167-170 — title with the "no title" double fallback
    // (backticks: every by-name read in here treats the name as LITERAL —
    // flattened docs carry dotted keys that bare col() would misparse)
    val title0 = if (schema.fieldNames.contains(titleCol)) col("`" + titleCol + "`")
                 else lit(null).cast("string")
    val title = when(title0.isNull || title0 === "", lit("no title")).otherwise(title0)
    val start = concat(lit("\n\n"), title, lit(".\n\n"))

    // :173-183 — whitelist pass; dict-valued props read .data. Props are
    // LITERAL column names — flattened docs carry dotted keys like
    // `resourceTitleObject.default` (the sdi nlp whitelist), which bare
    // col() would misparse as struct access.
    val afterProps = txtProps.foldLeft(start) { (acc, p) =>
      val raw =
        if (!schema.fieldNames.contains(p)) lit("")
        else if (structFields(p).contains("data")) col("`" + p + "`").getField("data")
        else col("`" + p + "`")
      val cleaned = cleanHtml(raw)
      val dotted = when(length(cleaned) > 0 && !cleaned.endsWith("."),
        concat(cleaned, lit("."))).otherwise(cleaned)
      when(length(dotted) > 0 && !contains(acc, dotted),
        concat(acc, dotted, lit("\n\n"))).otherwise(acc)
    }

    // :187-202 — auto-discovery over the static schema, field order =
    // the reference's dict-insertion order
    val autoProps = schema.fields.collect {
      case f if !txtPropsBlack.contains(f.name) &&
        structFields(f.name).contains("content-type") &&
        structFields(f.name).contains("data") => f.name
    }
    val assembled = autoProps.foldLeft(afterProps) { (acc, p) =>
      val mime = col("`" + p + "`").getField("content-type")
      val data = col("`" + p + "`").getField("data")
      val txt = coalesce(
        when(mime === "text/plain", data)
          .when(mime === "text/html", cleanHtml(data)), lit(""))
      val dotted = when(!txt.endsWith("."), concat(txt, lit("."))).otherwise(txt)
      when(length(txt) > 0 && !contains(acc, txt),
        concat(acc, lit("\n\n"), dotted, lit("\n\n"))).otherwise(acc)
    }

    // remove_by_selector runs BEFORE extraction (trafilatura_extract.py:
    // 96-109) — matched subtrees vanish from the DOM the extractor sees.
    // containerSelect=true upgrades the extractor to the full
    // trafilatura-class path ([[mainTextBlocks]]: patched-BODY_XPATH
    // container selection + chrome pruning + the recall fallback) —
    // opt-in so existing fixture-pinned pipelines keep their exact
    // line-filter-only output.
    // main_by_css_selector narrows FIRST (trafilatura_extract.py:82-94 —
    // the matched element becomes the extraction root; no match yields the
    // empty string, which falls through to field assembly exactly like the
    // reference's get_text returning ''), then remove_by_selector, then
    // the extractor.
    val extractor: Column => Column =
      if (containerSelect) mainTextBlocks(_) else mainText(_)
    val extracted =
      if (!schema.fieldNames.contains(htmlCol)) lit("")
      else {
        val base = col("`" + htmlCol + "`")
        val narrowed = mainSelector.fold(base)(sel => selectMain(base, sel))
        val pruned =
          if (removeSelectors.nonEmpty) stripSelectors(narrowed, removeSelectors)
          else narrowed
        extractor(pruned)
      }
    val pdf =
      if (schema.fieldNames.contains(pdfCol)) coalesce(col("`" + pdfCol + "`"), lit(""))
      else lit("")
    docs.withColumn("nlp_text",
      concat(
        // nullif, not a CASE WHEN on length(extracted): its common
        // expression is evaluated once, where the CASE WHEN would run the
        // extraction in both its condition and its value
        coalesce(nullif(extracted, lit("")), assembled),
        lit("\n\n"), pdf))
  }

  /** queries() wrapper: every third doc has NO page html and falls back to
    * field assembly — null/empty titles ("no title"), a whitelisted plain
    * prop, an auto-discovered text/html struct prop, a blacklisted struct
    * prop that must stay out — the rest extract main content from a
    * simple page; every fifth doc carries PDF sidecar text.
    */
  def qNlpPreprocess(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val docs = Tables.documents(s, d).select(
      id,
      when(id % 3 === 0, lit(""))
        .otherwise(concat(lit("<p>"), col("text"), lit("</p>"))).as("web_html"),
      when(id % 4 === 0, lit(null).cast("string"))
        .when(id % 4 === 1, lit(""))
        .otherwise(concat(lit("Title "), id)).as("title"),
      when(id % 2 === 0, concat(lit("Abstract "), id)).otherwise(lit("")).as("abstract_txt"),
      struct(lit("text/html").as("content-type"),
        concat(lit("<b>Summary "), id, lit("</b>")).as("data")).as("summary"),
      struct(lit("text/plain").as("content-type"),
        lit("INTERNAL NOTE").as("data")).as("internal_notes"),
      when(id % 5 === 0, concat(lit("PDF body "), id)).otherwise(lit("")).as("pdf_text"))
    nlpPreprocess(docs,
      txtProps = Seq("abstract_txt"), txtPropsBlack = Seq("internal_notes"))
      .select(id, col("nlp_text"))
      .orderBy("doc_id")
  }

  /** queries() wrapper for the remove_by_selector kernel: page chrome
    * (nav by id, banner by class compound, a sometimes-present footer)
    * strips away; the prose survives extraction. Removed blocks carry no
    * nested same-name tags so the DuckDB twin is a plain string rebuild —
    * the nesting cases live in HtmlExpressionsSpec.
    */
  def qNormStripSelectors(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val html = concat(
      lit("""<html><body><nav id="portal-globalnav"><a href="/">Home</a></nav>"""),
      lit("""<div class="eea banner">Banner text here</div>"""),
      lit("<p>"), col("text"), lit("</p>"),
      when(id % 2 === 0,
        lit("""<footer class="footer">Copyright</footer>""")).otherwise(lit("")),
      lit("</body></html>"))
    Tables.documents(s, d)
      .select(id, html.as("web_html"))
      .withColumn("stripped", stripSelectors(col("web_html"),
        Seq("#portal-globalnav", ".eea.banner", ".footer")))
      .withColumn("text_main", mainText(col("stripped")))
      .select("doc_id", "stripped", "text_main")
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------- norm_black_map

  /** apply_black_map (normalizers.py:14) — the DROP side of the black/white
    * map family (`normMaps` carries the white side): blacklisted values are
    * removed from list fields; a blacklisted scalar value becomes NULL.
    * Tiny literal sets stay inside codegen — no join, no shuffle.
    */
  def applyBlackMap(
      docs: DataFrame,
      listBlack: Map[String, Seq[String]],
      scalarBlack: Map[String, Seq[String]]): DataFrame = {
    val afterLists = listBlack.foldLeft(docs) { case (df, (c, black)) =>
      df.withColumn(c, filter(col(c), x => !x.isInCollection(black)))
    }
    scalarBlack.foldLeft(afterLists) { case (df, (c, black)) =>
      df.withColumn(c, when(col(c).isInCollection(black), lit(null).cast("string"))
        .otherwise(col(c)))
    }
  }

  def qNormBlackMap(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(
      col("doc_id"),
      slice(spaceTokens(col("text")), 1, 5).as("tags"),
      col("lang"))
    applyBlackMap(docs,
      listBlack = Map("tags" -> Seq("the", "a", "and", "of", "to", "data")),
      scalarBlack = Map("lang" -> Seq("zh", "ru")))
      .select(col("doc_id"),
        array_join(col("tags"), "|").as("tags_clean"),
        col("lang").as("lang_clean"))
      .orderBy("doc_id")
  }

  // ----------------------------------------------------------- norm_locations

  /** update_locations (normalizers.py:298): the `location` field arrives as
    * a GeoJSON FeatureCollection string and is replaced by the list of
    * feature titles. The reference's bare try/except-pass becomes
    * `from_json`'s NULL-on-malformed: a doc whose location does not parse
    * keeps NULL titles (callers keep the raw string column if they need the
    * reference's keep-original behavior — a DataFrame column cannot change
    * type per row). Schema-explicit parse, per-row, zero shuffle.
    */
  def parseLocations(docs: DataFrame, locCol: String): DataFrame = {
    val parsed = from_json(col(locCol), org.apache.spark.sql.types.StructType.fromDDL(
      "features ARRAY<STRUCT<properties: STRUCT<title: STRING>>>"))
    docs.withColumn(
      "location_titles",
      transform(parsed.getField("features"), f => f.getField("properties").getField("title")))
  }

  /** queries() wrapper: deterministic FeatureCollections of 1–3 features;
    * every 7th doc carries a malformed string (the except-pass path).
    */
  def qNormLocations(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val n = id % 3 + 1
    val feat = transform(sequence(lit(0), n - 1), k =>
      concat(lit("{\"properties\":{\"title\":\"place"), id, lit("_"), k, lit("\"}}")))
    val jsonStr = when(id % 7 === 0, lit("not json"))
      .otherwise(concat(lit("{\"features\":["), array_join(feat, ","), lit("]}")))
    parseLocations(Tables.documents(s, d).select(id, jsonStr.as("location")), "location")
      .select(id, array_join(col("location_titles"), "|").as("locations"))
      .orderBy("doc_id")
  }

  // -------------------------------------------------------- norm_content_type

  /** Content-type resolution family (normalizers.py):
    *  - find_ct_by_rules (:638): ordered path rules — a rule path ending in
    *    `*` matches any doc whose /-stripped location STARTS WITH the
    *    stripped rule (is_doc_on_path :622), otherwise the locations must be
    *    equal after stripping (:634); the LAST matching rule wins (the
    *    reference loop overwrites); no match → fallback type;
    *  - remove_extra_webpages (:118): "Webpage" is dropped whenever more
    *    specific types are present;
    *  - update_ct_by_attr (:662): a case-insensitive attribute-value mapping
    *    appends extra types not already present;
    *  - check_blacklist_whitelist (:610): admission — whitelisted type, or
    *    non-blacklisted when a blacklist exists, or everything when neither.
    *
    * Rules/mappings are tiny config literals, folded into codegen'd
    * expressions — per-row, zero shuffle, no rule table to join.
    */
  def contentTypeRules(
      docs: DataFrame, // (.., loc, type_raw, attrs: array<string>)
      rules: Seq[(String, Seq[String])],
      fallback: String,
      attrMapping: Map[String, Seq[String]],
      whitelist: Seq[String],
      blacklist: Seq[String]): DataFrame = {
    // \z not $ — same end-of-text discipline as the column-side docLoc
    // regex (bare $ also fires before a trailing \r/NEL/LS/PS in Java);
    // rule constants carry no terminators today, but the two sides should
    // not quietly disagree if one ever does.
    def stripSlashes(s: String) = s.replaceAll("^/+|/+\\z", "")
    val docLoc = regexp_replace(col("loc"), "^/+|/+\\z", "")
    // last-wins fold: later rules overwrite earlier matches
    val byRules = rules.foldLeft(lit(null).cast("array<string>")) {
      case (acc, (path, ct)) =>
        val matched =
          if (path.endsWith("*"))
            docLoc.startsWith(stripSlashes(path.stripSuffix("*")))
          else docLoc === stripSlashes(path)
        when(matched, array(ct.map(lit): _*)).otherwise(acc)
    }
    val withFallback = coalesce(byRules, array(lit(fallback)))
    val noExtraWebpage = when(
      array_contains(withFallback, "Webpage") && size(withFallback) > 1,
      array_remove(withFallback, "Webpage")).otherwise(withFallback)
    val mapped = attrMapping.foldLeft(noExtraWebpage) { case (acc, (key, newOps)) =>
      when(exists(col("attrs"), v => lower(v) === key.toLowerCase),
        array_union(acc, array(newOps.map(lit): _*))).otherwise(acc)
    }
    val keep =
      (if (whitelist.nonEmpty) col("type_raw").isInCollection(whitelist) else lit(false)) ||
      (if (blacklist.nonEmpty) !col("type_raw").isInCollection(blacklist) else lit(false)) ||
      lit(whitelist.isEmpty && blacklist.isEmpty)
    docs
      .withColumn("object_provides", mapped)
      .withColumn("admitted", keep)
  }

  def qNormContentType(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val docs = Tables.documents(s, d).select(
      id,
      when(id % 4 === 0, concat(lit("/articles/a"), id % 7))
        .when(id % 4 === 1, lit("/data/maps/3/"))
        .when(id % 4 === 2, concat(lit("///data/maps/"), id % 5))
        .otherwise(concat(lit("/other/"), id % 3)).as("loc"),
      when(id % 3 === 0, lit("Article")).when(id % 3 === 1, lit("News"))
        .otherwise(lit("Dataset")).as("type_raw"),
      slice(spaceTokens(col("text")), 1, 4).as("attrs"))
    contentTypeRules(
      docs,
      rules = Seq(
        "/articles/*" -> Seq("Article", "Webpage"),
        "/data/*" -> Seq("Webpage", "Data"),
        "/data/maps/3" -> Seq("Map")),
      fallback = "Webpage",
      attrMapping = Map("data" -> Seq("Dataset"), "Report" -> Seq("Report")),
      whitelist = Seq("Article"),
      blacklist = Seq("News"))
      .select(id, col("loc"),
        array_join(col("object_provides"), "|").as("object_provides"),
        col("admitted"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------------------- flatten_json

  /** simplify_elements (normalizers.py:219): nested structure → dotted-key
    * columns. Works on any StructType columns, recursively.
    */
  def flattenStructs(df: DataFrame): DataFrame = {
    def expand(prefix: String, schema: StructType): Seq[Column] =
      schema.fields.toSeq.flatMap { f =>
        val path = if (prefix.isEmpty) f.name else prefix + "." + f.name
        f.dataType match {
          case st: StructType => expand(path, st)
          case _ => Seq(col(path).as(path))
        }
      }
    df.select(expand("", df.schema): _*)
  }

  /** queries() wrapper: parse `events.props` JSON and surface the dotted key.
    * (The generic struct flattener is spec-tested; JSON-string extraction is
    * the oracle-checkable slice.)
    */
  /** JSON string-escaping fidelity: serialize each document's text with
    * to_json and parse it back. The j column pins the exact escaping
    * bytes (Jackson vs the oracle's yyjson: quotes/backslashes escaped,
    * control chars as \u00XX uppercase hex, DEL and non-ASCII kept raw),
    * the rt column pins the unescape roundtrip — the fidelity the ES bulk
    * sink and any JSONL training-data export rest on. Pure projection,
    * zero shuffle.
    */
  def qJsonEscape(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      to_json(struct(col("text").as("t"))).as("j"),
      get_json_object(to_json(struct(col("text").as("t"))), "$.t").as("rt"))
      .orderBy("doc_id")

  def qFlattenJson(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .orderBy("event_id")

  // ------------------------------------------------------------ norm_pipeline

  /** Fulltext-assembly slice of `NormConfig` (join_text_fields +
    * add_reading_time_and_fulltext, normalizers.py:162/:260).
    */
  case class JoinTextConfig(baseCol: String, titleCol: String, propCols: Seq[String])

  /** The per-site configuration surface of the reference's
    * `common_normalizer(doc, config)` (normalizers.py:496) — the dict every
    * `normalizers/sites/site_*.py` builds, as a typed config. Semantics of
    * each knob cite the reference function it drives:
    *
    *  - `dropTypes`: hard early-return types (:503 "Plone Site").
    *  - `typeWhitelist`/`typeBlacklist`: admission —
    *    check_blacklist_whitelist (:610): whitelisted, or non-blacklisted
    *    when a blacklist exists, or everything when neither.
    *  - `workflowStateCol`: hasWorkflowState (:519) — key missing →
    *    "visible" is the caller's choice of source column; present-but-falsy
    *    → "missing".
    *  - `joinText` + `readingTimeBlacklistTypes`: fulltext assembly and
    *    readingTime with the type-blacklist → −1 rule (:260, :480).
    *  - `blackMap`/`whiteMap` (:14/:34): per-field value drop/keep; list vs
    *    scalar resolved from the schema like the reference's isinstance.
    *  - `removeEmpty` (:129): "" scalars and empty lists → NULL (a DataFrame
    *    cannot drop a KEY per row; NULL is the relational equivalent, and
    *    apply_norm_missing's `is None` test treats them the same).
    *  - `normObj` (:54): ONE GLOBAL value→value map applied to every string
    *    field and every string-list element (the reference walks all keys);
    *    `normObjCols` restricts the walk when a corpus-sized text column
    *    should not pay the lookup.
    *  - `normProp` (:76): rename/fan-out — targets get the value, the source
    *    key is REMOVED unless it names itself as a target.
    *  - `normMissing` (:90): NULL/missing fields fill from a constant, or
    *    from another field via the reference's `field:<name>` string form.
    *  - remove_duplicates (:105): list values deduped keeping first
    *    occurrence; strip_fields (:146): all strings trimmed — both always
    *    on, like the reference.
    *  - `locationCol`: update_locations (:298) GeoJSON titles.
    *  - `descriptionCol`: description fallback = first 100 words of
    *    `descriptionFromCol` (:585).
    *  - `countListCols`/`countScalarCols`: the site wrappers' add_counts
    *    (:652, called from e.g. site_climate.py:226).
    */
  case class NormConfig(
      typeCol: String = "type_raw",
      dropTypes: Seq[String] = Nil,
      typeWhitelist: Seq[String] = Nil,
      typeBlacklist: Seq[String] = Nil,
      workflowStateCol: Option[String] = None,
      joinText: Option[JoinTextConfig] = None,
      readingTimeBlacklistTypes: Seq[String] = Nil,
      blackMap: Map[String, Seq[String]] = Map.empty,
      whiteMap: Map[String, Seq[String]] = Map.empty,
      removeEmpty: Boolean = true,
      normObj: Map[String, String] = Map.empty,
      normObjCols: Option[Seq[String]] = None,
      // normProp/normMissing are SEQUENCES: the reference iterates
      // insertion-ordered Python dicts, and chained renames / field: refs
      // are order-sensitive — a Scala Map above 4 entries iterates in hash
      // order and would make site configs nondeterministic.
      normProp: Seq[(String, Seq[String])] = Nil,
      normMissing: Seq[(String, String)] = Nil,
      locationCol: Option[String] = None,
      descriptionCol: Option[String] = None,
      descriptionFromCol: String = "fulltext",
      countListCols: Seq[String] = Nil,
      countScalarCols: Seq[String] = Nil,
      contentType: Option[ContentTypeConfig] = None)

  /** Content-type-resolution slice of `NormConfig`: the site normalizers'
    * find_ct_by_rules / remove_extra_webpages / update_ct_by_attr family
    * (normalizers.py:638/:118/:662) aimed at arbitrary column names; the
    * result lands in `object_provides`. Admission is NOT repeated here —
    * `commonNormalizer` step 1 already applied it.
    */
  case class ContentTypeConfig(
      locCol: String,
      attrsCol: String,
      rules: Seq[(String, Seq[String])],
      fallback: String,
      attrMapping: Map[String, Seq[String]] = Map.empty)

  /** `common_normalizer` (normalizers.py:496): ONE composed docs→docs
    * transform assembled from a `NormConfig`, applying the reference's steps
    * in the reference's order. Every step is a per-row projection (the
    * admission filter is a scan predicate) — the whole pipeline is
    * zero-shuffle at any scale, and Catalyst collapses the chained
    * withColumns into a single whole-stage-codegen'd projection.
    */
  def commonNormalizer(docs: DataFrame, cfg: NormConfig): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, StringType}

    // Config and schema names are LITERAL column names — flattened docs
    // (simplify_elements, :219) carry dotted keys like
    // `resourceTitleObject.default`, which bare col() would misparse as
    // struct access. Backtick-quote every by-name reference.
    def qcol(name: String): Column = col("`" + name + "`")

    // 1. admission: hard drops + check_blacklist_whitelist (:503, :610)
    val t = qcol(cfg.typeCol)
    val notDropped =
      if (cfg.dropTypes.nonEmpty) !t.isInCollection(cfg.dropTypes) else lit(true)
    val admitted =
      (cfg.typeWhitelist, cfg.typeBlacklist) match {
        case (Nil, Nil) => lit(true)
        case (wl, Nil)  => t.isInCollection(wl)
        case (Nil, bl)  => !t.isInCollection(bl)
        case (wl, bl)   => t.isInCollection(wl) || !t.isInCollection(bl)
      }
    val s1 = docs.filter(notDropped && admitted)

    // 2. hasWorkflowState (:519): present-but-falsy → "missing"
    val s2 = cfg.workflowStateCol.fold(s1) { c =>
      s1.withColumn("workflow_state",
        when(qcol(c).isNull || qcol(c) === "", lit("missing")).otherwise(qcol(c)))
    }

    // 3. update_locations (:298) — runs early like the reference
    val s3 = cfg.locationCol.fold(s2)(c => parseLocations(s2, c))

    // 3b. content-type resolution (find_ct_by_rules family) — the columns
    // contentTypeRules expects are adapted by name and dropped again
    val s3b = cfg.contentType.fold(s3) { ct =>
      val aliases = Seq(
        "loc" -> ct.locCol, "attrs" -> ct.attrsCol, "type_raw" -> cfg.typeCol)
        .filter { case (fixed, src) => fixed != src }
      val adapted = aliases.foldLeft(s3) { case (d, (fixed, src)) =>
        d.withColumn(fixed, qcol(src))
      }
      val resolved = contentTypeRules(
        adapted, ct.rules, ct.fallback, ct.attrMapping, Nil, Nil)
        .drop("admitted")
      aliases.map(_._1).foldLeft(resolved)(_ drop _)
    }

    // 4. fulltext assembly + readingTime with type blacklist (:162, :260, :480)
    val s4 = cfg.joinText.fold(s3b) { jt =>
      val joined = joinTextFields(s3b, jt.baseCol, jt.titleCol, jt.propCols)
      val blacklisted =
        if (cfg.readingTimeBlacklistTypes.nonEmpty)
          t.isInCollection(cfg.readingTimeBlacklistTypes)
        else lit(false)
      addReadingTime(joined, "fulltext", blacklisted)
    }

    // 5./6. black then white maps (:14/:34), list vs scalar from the schema
    def valueMaps(df: DataFrame, m: Map[String, Seq[String]], white: Boolean): DataFrame =
      m.foldLeft(df) { case (d, (c, vals)) =>
        d.schema(c).dataType match {
          case ArrayType(_, _) =>
            d.withColumn(c, filter(qcol(c), x =>
              if (white) x.isInCollection(vals) else !x.isInCollection(vals)))
          case dt =>
            if (white) d.withColumn(c, when(qcol(c).isInCollection(vals), qcol(c)))
            else d.withColumn(c,
              when(qcol(c).isInCollection(vals), lit(null).cast(dt)).otherwise(qcol(c)))
        }
      }
    val s6 = valueMaps(valueMaps(s4, cfg.blackMap, white = false), cfg.whiteMap, white = true)

    // Whole-schema per-column rewrites (steps 7, 11, 12 and the two
    // apply_norm_obj passes) are batched into ONE projection each: the
    // rewrites are independent per column, and a withColumn-per-field fold
    // re-runs the analyzer over the whole (growing) plan once per column —
    // measured as the dominant cost of every site_* query at gate scale
    // (~2 s of pure Catalyst for the SDI chains; row execution is
    // milliseconds). One select = one analysis pass, identical expressions.
    def mapAllColumns(df: DataFrame)(f: org.apache.spark.sql.types.StructField => Option[Column]): DataFrame = {
      val cols = df.schema.fields.map { fd =>
        f(fd).map(_.as(fd.name)).getOrElse(qcol(fd.name))
      }
      df.select(cols: _*)
    }

    // 7. remove_empty (:129): "" / empty-list → NULL, all columns
    val s7 =
      if (!cfg.removeEmpty) s6
      else mapAllColumns(s6) { f =>
        f.dataType match {
          case StringType => Some(
            when(qcol(f.name) === "", lit(null).cast(StringType)).otherwise(qcol(f.name)))
          case at: ArrayType => Some(
            when(size(qcol(f.name)) === 0, lit(null).cast(at)).otherwise(qcol(f.name)))
          case _ => None
        }
      }

    // apply_norm_obj (:54): global value map over strings + list elements.
    // Runs TWICE like the reference — once here (step 8) and once after the
    // normMissing/strip fold (normalizers.py:583 "normalize objects again,
    // after we add values in various ways") so values FILLED by normMissing
    // don't escape the global map. Targets re-derive from the current
    // schema per pass (normProp/normMissing may have added columns).
    def applyNormObj(df: DataFrame, explicitCols: Option[Seq[String]]): DataFrame =
      if (cfg.normObj.isEmpty) df
      else {
        val m = typedLit(cfg.normObj)
        val targets = explicitCols.getOrElse(
          df.schema.fields.collect {
            case f if f.dataType == StringType => f.name
            case f if f.dataType == ArrayType(StringType, true) ||
              f.dataType == ArrayType(StringType, false) => f.name
          }.toSeq)
        // Explicit normObjCols may name columns that normProp's fan-out later
        // drops (second pass) or that don't exist yet (first pass); the
        // reference iterates keys present on the doc at that point
        // (normalizers.py:583), so missing columns are no-ops, not errors.
        // Batched into one projection (see mapAllColumns) — the map lookups
        // are independent per column.
        val present = targets.filter(df.columns.contains).toSet
        mapAllColumns(df) { f =>
          if (!present.contains(f.name)) None
          else f.dataType match {
            case StringType =>
              Some(coalesce(try_element_at(m, qcol(f.name)), qcol(f.name)))
            case ArrayType(StringType, _) =>
              Some(transform(qcol(f.name), x => coalesce(try_element_at(m, x), x)))
            case _ => None
          }
        }
      }

    // 8. first apply_norm_obj pass (:551)
    val s8 = applyNormObj(s7, cfg.normObjCols)

    // Explicit normObjCols name PRE-rename columns. normProp's fan-out moves
    // their values under new names before the second pass, and the reference's
    // second apply_norm_obj walks the doc's CURRENT keys (normalizers.py:583)
    // — so a mappable value sitting in a renamed target column must still be
    // normalized. Translate each name through the rename chain, in normProp
    // declaration order (chained renames compose left-to-right).
    val normObjColsPostRename = cfg.normObjCols.map { cols =>
      cfg.normProp.foldLeft(cols) { case (cs, (src, tgts)) =>
        cs.flatMap(c => if (c == src) tgts else Seq(c)).distinct
      }
    }

    // 9. apply_norm_prop (:76): fan out, source key removed. The reference
    // walks doc.keys() — a normProp source absent from the doc is a no-op,
    // so site configs may list renames for optional fields. Batched into
    // one projection + one drop when entries are provably independent (no
    // target doubles as a source — which would make declaration order
    // observable — and no duplicate targets); chained configs keep the
    // sequential fold.
    val s9 = {
      val present = cfg.normProp.filter { case (src, _) => s8.columns.contains(src) }
      val srcs = present.map(_._1).toSet
      val fanTgts = present.flatMap { case (src, ts) => ts.filterNot(_ == src) }
      val batchable = fanTgts.distinct.size == fanTgts.size &&
        fanTgts.forall(t => !srcs.contains(t))
      if (batchable) {
        val assigns = present.flatMap { case (src, ts) =>
          ts.filterNot(_ == src).map(t => t -> qcol(src))
        }
        val drops = present.collect { case (src, ts) if !ts.contains(src) => src }
        withColumnsBatch(s8, assigns).drop(drops: _*)
      } else cfg.normProp.foldLeft(s8) { case (d, (src, targets)) =>
        if (!d.columns.contains(src)) d
        else {
          val fanned = targets.foldLeft(d)((dd, tgt) =>
            if (tgt == src) dd else dd.withColumn(tgt, qcol(src)))
          if (targets.contains(src)) fanned else fanned.drop(src)
        }
      }
    }

    // 10. apply_norm_missing (:90): constants and `field:` refs fill NULLs;
    // a `field:` ref to a missing column fills NULL (doc.get, :96)
    val s10 = cfg.normMissing.foldLeft(s9) { case (d, (c, v)) =>
      val fill: Column =
        if (v.startsWith("field:")) {
          val src = v.stripPrefix("field:").trim
          if (d.columns.contains(src)) qcol(src) else lit(null).cast(StringType)
        } else lit(v)
      if (d.columns.contains(c)) d.withColumn(c, coalesce(qcol(c), fill))
      else d.withColumn(c, fill)
    }

    // 11. remove_duplicates (:105): first-occurrence list dedup
    val s11 = mapAllColumns(s10) { f =>
      f.dataType match {
        case ArrayType(_, _) => Some(array_distinct(qcol(f.name)))
        case _ => None
      }
    }

    // 12. strip_fields (:146): trim every string
    val s12 = mapAllColumns(s11) { f =>
      f.dataType match {
        case StringType => Some(zsTrim(qcol(f.name)))
        case _ => None
      }
    }

    // 12b. second apply_norm_obj pass (:583) — after the strip fold, before
    // the description fallback, exactly the reference's position; explicit
    // targets are the post-rename names
    val s12b = applyNormObj(s12, normObjColsPostRename)

    // 13. description fallback (:585)
    val s13 = cfg.descriptionCol.fold(s12b)(c =>
      fillDescription(s12b, c, cfg.descriptionFromCol))

    // 14. add_counts (:652)
    addCounts(s13, cfg.countListCols, cfg.countScalarCols)
  }

  /** queries() wrapper: a site_sdi-shaped config driving THIRTEEN reference
    * steps over synthesized document columns — admission (drop + blacklist),
    * workflow state, GeoJSON locations, fulltext assembly, readingTime with
    * a type blacklist, black map on tags, white map on source, remove-empty,
    * a global normObj language map, normProp fan-out (n_chars → size_chars,
    * source removed), normMissing constant + field: ref, list dedup + trim,
    * description fallback, add_counts.
    */
  def qNormPipeline(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val docs = Tables.documents(s, d).select(
      id,
      when(id % 13 === 0, lit("Plone Site"))
        .when(id % 11 === 0, lit("Discussion Item"))
        .when(id % 4 === 0, lit("Dataset"))
        .otherwise(lit("Article")).as("type_raw"),
      when(id % 5 === 0, lit(null).cast("string"))
        .when(id % 5 === 1, lit(""))
        .otherwise(lit("published")).as("review_state"),
      col("text"),
      when(id % 4 === 0, lit(null).cast("string"))
        .when(id % 4 === 1, lit(""))
        .otherwise(concat(lit("Title "), id)).as("title"),
      when(id % 3 === 0, lit(""))
        .otherwise(concat(lit("<p>Summary for doc "), id, lit("</p>"))).as("summary"),
      // null lang for every 17th doc: normMissing fills it with "en" AFTER
      // the first normObj pass, and only the SECOND pass (normalizers.py:583)
      // maps the filled value to "English" — pins the two-pass interaction
      when(id % 17 === 0, lit(null).cast("string")).otherwise(col("lang")).as("lang"),
      col("source"), col("n_chars"),
      slice(spaceTokens(col("text")), 1, 5).as("tags"),
      when(id % 4 =!= 0, concat(lit("pub_"), col("source"))).as("publisher"),
      when(id % 3 === 0, concat(lit("Existing description for doc "), id))
        .when(id % 3 === 1, lit(""))
        .otherwise(lit(null).cast("string")).as("description_raw"),
      when(id % 7 === 0, lit("not json"))
        .otherwise(concat(lit("{\"features\":["),
          array_join(transform(sequence(lit(0), id % 3), k =>
            concat(lit("{\"properties\":{\"title\":\"place"), id, lit("_"), k, lit("\"}}"))), ","),
          lit("]}"))).as("location"))
    commonNormalizer(docs, NormConfig(
      typeCol = "type_raw",
      dropTypes = Seq("Plone Site"),
      typeBlacklist = Seq("Discussion Item"),
      workflowStateCol = Some("review_state"),
      joinText = Some(JoinTextConfig("text", "title", Seq("summary"))),
      readingTimeBlacklistTypes = Seq("Dataset"),
      blackMap = Map("tags" -> Seq("the", "a", "and", "of", "to", "data")),
      whiteMap = Map("source" -> Seq("src0", "src1", "src2")),
      normObj = Map("en" -> "English", "de" -> "German", "fr" -> "French"),
      normObjCols = Some(Seq("lang")),
      normProp = Seq("n_chars" -> Seq("size_chars")),
      normMissing = Seq("rights" -> "CC-BY-4.0", "publisher" -> "field:source",
        "lang" -> "en"),
      locationCol = Some("location"),
      descriptionCol = Some("description_raw"),
      countListCols = Seq("tags"),
      countScalarCols = Seq("lang")))
      .select(id, col("type_raw"), col("workflow_state"), col("n_words"),
        col("reading_time"),
        array_join(col("tags"), "|").as("tags"),
        col("lang"), col("source"), col("size_chars"), col("rights"), col("publisher"),
        array_join(col("location_titles"), "|").as("locations"),
        col("description"), col("items_count_tags"), col("items_count_lang"),
        col("fulltext"))
      .orderBy("doc_id")
  }
}
