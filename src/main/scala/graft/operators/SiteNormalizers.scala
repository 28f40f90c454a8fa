package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import graft.functions.TextFns.zsTrim
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType, StructType}

/** Per-site normalizer portfolio — the reference's `normalizers/sites/site_X.py`
  * wrappers around `common_normalizer`, re-expressed as composed column
  * pipelines over `NormOps.commonNormalizer`. Each site normalizer is
  * pre-projection → commonNormalizer(NormConfig) → post-projection: every
  * step is a per-row codegen'd expression, so the whole pipeline stays
  * zero-shuffle at any corpus size (the site config never touches data
  * layout — it only widens/narrows the projection).
  *
  * Ported sites (reference file:line):
  *  - climate     — sites/site_climate.py:25-227 (`normalize_climate`) with
  *    the admission whitelist from the crawler's `config_climate` variable
  *  - wise_marine — sites/site_wise_marine.py:80-155 (`normalize_marine`)
  *    with `config_wise_marine`'s location_rules / whitelist
  *  - sdi_fise    — sites/site_sdi_fise.py:177-298 (`pre_normalize_sdi`) +
  *    :352-504 (`normalize_sdi`) with the `sdi_normalizers` variable's
  *    normProp/normObj maps
  *
  * Vocabulary fields: the reference's raw docs carry Plone "vocabulary"
  * values — lists of `{title: ..., token: ...}` dicts — and every site
  * wrapper flattens them with a `simplify_list`/`vocab_to_list` helper.
  * Here a vocabulary is an `array<struct>` column and the helper is a
  * `transform(..getField)` projection. Python's duck typing (a field that
  * is *sometimes* a bare string) has no DataFrame equivalent — callers pick
  * the typed variant that matches their schema, mirroring how the reference
  * branches on `isinstance`.
  */
object SiteNormalizers {
  import NormOps.{NormConfig, JoinTextConfig}

  /** `simplify_list`/`vocab_to_list` (site_climate.py:16, site_sdi_fise.py:68,
    * site_wise_marine.py:20): list of vocab structs → list of one field.
    * NULL list → NULL (remove_empty/normMissing treat it like Python's []).
    */
  def vocabList(c: Column, field: String = "title"): Column =
    transform(c, x => x.getField(field))

  /** `vocab_to_term` (site_climate.py:20): single vocab struct → its field. */
  def vocabTerm(c: Column, field: String = "title"): Column = c.getField(field)

  private def yesNo(c: Column): Column = when(c, "Yes").otherwise("No")
  private def trueFalse(c: Column): Column =
    when(c, "true").otherwise("false")

  // ========================================================== site: climate

  /** Admission whitelist for the climate site — the crawler's
    * `config_climate.normalize.whitelist` (variables.json); blacklist is [].
    */
  val climateWhitelist: Seq[String] = Seq(
    "eea.climateadapt.publicationreport", "eea.climateadapt.aceproject",
    "File", "News Item", "collective.cover.content", "Folder",
    "eea.climateadapt.informationportal", "eea.climateadapt.guidancedocument",
    "eea.climateadapt.casestudy", "eea.climateadapt.organisation",
    "eea.climateadapt.mapgraphdataset", "eea.climateadapt.tool",
    "eea.climateadapt.indicator", "eea.climateadapt.adaptationoption",
    "Document", "Event", "Page", "eea.climateadapt.video",
    "eea.climateadapt.c3sindicator", "mission_story", "mission_tool",
    "mission_funding_cca")

  /** `is_portal_type_in_search` (site_climate.py:237-255). */
  val climateSearchPortalTypes: Seq[String] = Seq(
    "eea.climateadapt.aceproject", "eea.climateadapt.adaptationoption",
    "eea.climateadapt.casestudy", "eea.climateadapt.guidancedocument",
    "eea.climateadapt.indicator", "eea.climateadapt.informationportal",
    "eea.climateadapt.organisation", "eea.climateadapt.publicationreport",
    "eea.climateadapt.tool", "eea.climateadapt.video",
    "eea.climateadapt.mapgraphdataset", "eea.climateadapt.researchproject",
    "eea.climateadapt.c3sindicator")

  /** `normalize_climate` (site_climate.py:25-227) end-to-end. Expected input
    * columns (synthesized from the raw Plone doc like the wrapper's
    * `doc["raw_value"]` reads; absent optional vocab columns may simply be
    * omitted from the projections by the caller):
    * id (@id), type_raw (@type), review_state, include_in_observatory,
    * include_in_mission (bool), publication_date, uid, created,
    * cca_published, keywords array<string>, sectors / climate_impacts /
    * elements / origin_website / country / climate_threats / key_system /
    * contributor_list / ipcc_category / governance_level array<struct<title>>,
    * health_impacts / key_type_measures array<struct<token,title>>,
    * funding_programme struct<title>, geographic
    * struct<countries:array, transnational_region:array, ...>, plus the
    * commonNormalizer text fields (text, title, summary).
    *
    * Step order follows the wrapper: mission-path flag (:82) → admission
    * (:85) → themes override (:95) → common_normalizer (:96) → issued
    * fallback (:102) → cca_* vocab fan-out (:110-145) → funding programme
    * (:147) → geographic sub-lists (:154) → cluster/search flags (:171-177)
    * → mission-funding block (:180-211) → preview image (:214) →
    * readingTime (:222) → second norm_obj (:224, inside commonNormalizer)
    * → add_counts (:226).
    */
  def normalizeClimate(docs: DataFrame,
      whitelist: Seq[String] = climateWhitelist): DataFrame = {
    // :82 — any '/mission/' path is included in the mission regardless of flag
    val pre = docs
      .withColumn("include_in_mission",
        col("include_in_mission") || col("id").contains("/mission/"))
      .withColumn("themes", array(lit("climate-change-adaptation"))) // :95
      // common_normalizer's @type → content-type resolution target
      .withColumn("object_provides_scalar", col("type_raw"))

    val common = NormOps.commonNormalizer(pre, NormConfig(
      typeCol = "type_raw",
      typeWhitelist = whitelist,
      workflowStateCol = Some("review_state"),
      joinText = Some(JoinTextConfig("text", "title", Seq("summary"))),
      // the shared default_normalizers slice this site exercises
      normObj = Map("News Item" -> "News", "Document" -> "Webpage",
        "Page" -> "Webpage", "Folder" -> "Webpage", "File" -> "File"),
      normObjCols = Some(Seq("object_provides_scalar")),
      normMissing = Seq("language" -> "en",
        "creator" -> "European Environment Agency (EEA)",
        "creation_date" -> "field:created"),
      descriptionCol = Some("description")))

    val isFunding = col("type_raw") === "mission_funding_cca" // :180
    val out = common
      // :102 — issued ?? cca_published ?? publication_date
      .withColumn("issued",
        coalesce(col("issued"), col("cca_published"), col("publication_date")))
      .withColumn("cca_uid", col("uid"))
      .withColumn("cca_keywords", col("keywords"))
      .withColumn("cca_adaptation_sectors", vocabList(col("sectors")))
      .withColumn("cca_climate_impacts", vocabList(col("climate_impacts")))
      .withColumn("cca_adaptation_elements", vocabList(col("elements")))
      .withColumn("cca_health_impacts", vocabList(col("health_impacts"), "token"))
      .withColumn("cca_key_type_measure", vocabList(col("key_type_measures"), "token"))
      .withColumn("cca_origin_websites", vocabList(col("origin_website")))
      .withColumn("climate_threats", vocabList(col("climate_threats")))
      .withColumn("key_system", vocabList(col("key_system")))
      // :139-144 — spatial: scalar→list, leading 'Other' dropped, country titles appended
      .withColumn("spatial", {
        val base = when(try_element_at(col("spatial"), lit(1)) === "Other",
          array().cast("array<string>")).otherwise(col("spatial"))
        concat(coalesce(base, array().cast("array<string>")),
          coalesce(vocabList(col("country")), array().cast("array<string>")))
      })
      // :147-150 — struct vocab (string variant is a caller-side projection)
      .withColumn("cca_funding_programme", vocabTerm(col("funding_programme")))
      // :154-170 — geographic sub-lists
      .withColumn("cca_geographic_countries", col("geographic.countries"))
      .withColumn("cca_geographic_transnational_region",
        col("geographic.transnational_region"))
      .withColumn("cluster_name", lit("cca")) // :171
      .withColumn("cca_include_in_search",
        trueFalse(col("type_raw").isInCollection(climateSearchPortalTypes)))
      .withColumn("cca_include_in_search_observatory",
        trueFalse(col("include_in_observatory")))
      .withColumn("cca_include_in_mission", trueFalse(col("include_in_mission")))
      // :180-211 — mission-funding block (only for mission_funding_cca)
      .withColumn("cca_is_eu_funded",
        when(isFunding, yesNo(coalesce(col("is_eu_funded"), lit(false)))))
      .withColumn("cca_is_blended",
        when(isFunding, yesNo(coalesce(col("is_blended"), lit(false)))))
      .withColumn("cca_funding_rate", when(isFunding, col("funding_rate")))
      // :214 — preview_image.scales.preview.download
      .withColumn("cca_preview_image",
        col("preview_image.scales.preview.download"))
      .withColumn("cca_updated_params", lit(1))
    // :226 — add_counts runs LAST in the wrapper, over the cca fan-out too
    NormOps.addCounts(out,
      listCols = Seq("cca_keywords", "cca_adaptation_sectors", "spatial"),
      scalarCols = Seq("cluster_name"))
  }

  // ====================================================== site: wise_marine

  /** `config_wise_marine.normalize` (variables.json): admission whitelist
    * and the path→content-type location rules the wrapper re-resolves
    * Webpage/Country-fact-sheet docs through (site_wise_marine.py:107-120).
    * Rule list order matters — the reference's find_ct_by_rules is
    * last-match-wins and these overlap (the state-of-europe-seas glob vs the
    * dashboards below it).
    */
  val wiseMarineWhitelist: Seq[String] =
    Seq("Document", "Page", "File", "country_factsheet")

  /** The `default_normalizers.normObj` slice reachable on this site's
    * portal types (variables.json): the Plone content types the whitelist
    * admits plus the measure/indicator types the wrapper's SPM and
    * Indicator branches key on ("measure"/"spmeasure" → "Shipping and
    * Ports Measure", "indicator"/"ims_indicator" → "Indicator").
    */
  val wiseMarineNormObj: Map[String, String] = Map(
    "Document" -> "Webpage", "Page" -> "Webpage", "File" -> "File",
    "country_factsheet" -> "Country fact sheet", "Data" -> "Data set",
    "measure" -> "Shipping and Ports Measure",
    "spmeasure" -> "Shipping and Ports Measure",
    "indicator" -> "Indicator", "ims_indicator" -> "Indicator")

  val wiseMarineLocationRules: Seq[(String, Seq[String])] = Seq(
    "/marine/policy-and-reporting/*" -> Seq("Webpage"),
    "/marine/state-of-europe-seas/" -> Seq("Topic page"),
    "/marine/state-of-europe-seas/*" -> Seq("Topic page"),
    "/marine/state-of-europe-seas/marine-sectors-catalogue-of-measures" -> Seq("Dashboard"),
    "/marine/data-maps-and-tools/map-viewers-visualization-tools/dashboards-on-marine-features-under-other-policies/*" -> Seq("Dashboard"),
    "/marine/data-maps-and-tools/msfd-reporting-information-products/ges-assessment-dashboards/*" -> Seq("Dashboard"),
    "/marine/data-maps-and-tools/msfd-reporting-information-products/ges-assessment-dashboards/country-thematic-dashboards/" -> Seq("Country fact sheet", "Dashboard"),
    "/marine/data-maps-and-tools/map-viewers-visualization-tools/european-reference-maps" -> Seq("Map (interactive)"),
    "/marine/countries-and-regional-seas/country-profiles/*" -> Seq("Country fact sheet", "Dashboard"))

  /** The Shipping-and-Ports-Measure extra-field fan-out list
    * (site_wise_marine.py:29-76, `wm_spm_extra_fields`). Only the fields
    * present on the input schema fan out — the reference's `doc.get`
    * returns None for the rest, which is exactly a missing column here.
    */
  val wmSpmExtraFields: Seq[String] = Seq(
    "title", "sector", "code", "use", "origin", "nature", "status",
    "impacts", "impacts_further_details", "water_body_cat", "spatial_scope",
    "country_coverage", "measure_purpose", "measure_type", "measure_location",
    "measure_response", "measure_additional_info", "pressure_type",
    "pressure_name", "ranking", "season", "approaching_areas",
    "areas_to_be_avoided", "descriptors", "ecological_impacts",
    "future_scenarios", "effect_on_hydromorphology", "ktms_it_links_to",
    "links_to_existing_policies", "msfd_spatial_scope",
    "mspd_implementation_status", "nature_of_physical_modification", "source",
    "authority", "general_view", "ports", "future_expectations",
    "safety_manner", "objective", "categories", "precautionary_areas",
    "priority_areas", "relevant_targets",
    "relevant_features_from_msfd_annex_iii", "region", "shipping_tackled",
    "traffic_separation_scheme", "type_of_pressure")

  /** `normalize_marine` (site_wise_marine.py:80-155) end-to-end. Expected
    * input columns: id (@id URL), type_raw (@type), review_state, title,
    * spatial array<string>, issued, object type source for objectProvides
    * (the commonNormalizer normObj map drives @type → content type),
    * legislative_reference / dpsir_type array<struct<title>>, theme
    * array<string>, text/summary for fulltext, plus any of
    * `wmSpmExtraFields` the corpus carries.
    *
    * Steps: admission (:87) → country_factsheet spatial=title (:96) →
    * themes (:99) → common_normalizer (:101) → location-rule re-resolution
    * for Webpage/Country-fact-sheet (:107-120) → Data-set/Webpage pruning
    * (:121) → Shipping-and-Ports block (:126-132) → legislative_reference /
    * wm_theme / wm_dpsir_type (:134-141) → Indicator description override
    * (:143-146) → cluster_name (:151) → readingTime (:152, in common) →
    * add_counts (:154).
    */
  def normalizeWiseMarine(docs: DataFrame,
      whitelist: Seq[String] = wiseMarineWhitelist,
      locationRules: Seq[(String, Seq[String])] = wiseMarineLocationRules,
      normObj: Map[String, String] = wiseMarineNormObj): DataFrame = {
    val pre = docs
      // :96 — a country factsheet's spatial is its own title
      .withColumn("spatial",
        when(col("type_raw") === "country_factsheet", array(col("title")))
          .otherwise(col("spatial")))
      .withColumn("themes", array(lit("water"), lit("coast_sea"))) // :99
      // common_normalizer's @type → content-type resolution target
      .withColumn("object_provides_scalar", col("type_raw"))

    val common = NormOps.commonNormalizer(pre, NormConfig(
      typeCol = "type_raw",
      typeWhitelist = whitelist,
      workflowStateCol = Some("review_state"),
      joinText = Some(JoinTextConfig("text", "title", Seq("summary"))),
      normObj = normObj,
      normObjCols = Some(Seq("object_provides_scalar")),
      descriptionCol = Some("description")))

    // :107-120 — Webpage / Country fact sheet re-resolve by URL path rules.
    // parse_url(.., 'PATH') is the wrapper's urlparse(id).path.
    val docLoc = regexp_replace(parse_url(col("id"), lit("PATH")), "^/+|/+\\z", "")
    def stripSlashes(s: String) = s.replaceAll("^/+|/+\\z", "")
    val byRules = locationRules.foldLeft(lit(null).cast("array<string>")) {
      case (acc, (path, ct)) =>
        val matched =
          if (path.endsWith("*")) docLoc.startsWith(stripSlashes(path.stripSuffix("*")))
          else docLoc === stripSlashes(path)
        when(matched, array(ct.map(lit): _*)).otherwise(acc)
    }
    val resolved = coalesce(byRules, array(lit("Webpage"))) // location_rules_fallback
    val reResolved = when(
      col("object_provides_scalar").isInCollection(Seq("Webpage", "Country fact sheet")),
      resolved).otherwise(array(col("object_provides_scalar")))
    // :121-125 — a lone "Data set" collapses to Webpage; otherwise Webpage is pruned
    val dataSetFixed = when(array_contains(reResolved, "Data set"),
      when(size(reResolved) === 1, array(lit("Webpage")))
        .otherwise(array_remove(reResolved, "Webpage")))
      .otherwise(reResolved)

    // :126 — reads the materialized object_provides (the scalar source
    // column is dropped right above)
    val isSpm = array_contains(col("object_provides"), "Shipping and Ports Measure")
    val withTypes = common
      .withColumn("object_provides", dataSetFixed)
      .drop("object_provides_scalar")
      .withColumn("exclude_from_globalsearch",
        when(isSpm, array(lit("True")))) // :127
      .withColumn("issued", // :128 — SPM backfill for published docs
        when(isSpm && col("issued").isNull && col("workflow_state") === "published",
          lit("2023-09-04T07:17:00")).otherwise(col("issued")))

    // :130-132 — wm_spm_* fan-out for the fields present on this corpus
    val has = docs.columns.toSet
    val fanned = wmSpmExtraFields.filter(has).foldLeft(withTypes) { (d, f) =>
      d.withColumn(s"wm_spm_$f", when(isSpm, col(f)))
    }

    val isIndicator = array_contains(col("object_provides"), "Indicator") // :143
    val out = fanned
      .withColumn("legislative_reference", vocabList(col("legislative_reference"))) // :134
      .withColumn("wm_theme", col("theme")) // :137
      .withColumn("wm_dpsir_type", vocabList(col("dpsir_type"))) // :140
      .withColumn("description", // :144 — Indicator description is the title
        when(isIndicator, col("title")).otherwise(col("description")))
      .withColumn("dpsir", when(isIndicator, vocabList(col("dpsir_type")))) // :145
      .withColumn("cluster_name", lit("wise-marine")) // :151
    NormOps.addCounts(out, // :154
      listCols = Seq("object_provides", "wm_dpsir_type"),
      scalarCols = Seq("cluster_name"))
  }

  // ========================================================= site: sdi_fise

  /** `lang_names` / `country_names` (site_sdi_fise.py:354-372). */
  val sdiLangNames: Map[String, String] = Map(
    "ita" -> "Italian", "eng" -> "English", "ger" -> "German",
    "deu" -> "German", "spa" -> "Spanish", "por" -> "Portuguese",
    "unknown" -> "Unknown")
  val sdiCountryNames: Map[String, String] = Map(
    "ita" -> "Italy", "eng" -> "Pan European (EEA)", "ger" -> "Switzerland",
    "deu" -> "Switzerland", "spa" -> "Spain", "por" -> "Portugal",
    "unknown" -> "Unknown")

  /** The maintenance-frequency key→label map (site_sdi_fise.py:409-448's
    * elif chain, first entry wins; unknown keys pass through).
    */
  val sdiUpdateFrequency: Map[String, String] = Map(
    "asNeeded" -> "As needed", "unknown" -> "Unknown",
    "continual" -> "Continual", "notPlanned" -> "Not planned",
    "irregular" -> "Irregular", "annually" -> "Annually",
    "userDefined" -> "User defined", "quarterly" -> "Quarterly",
    "weekly" -> "Weekly", "biannually" -> "Biannually",
    "monthly" -> "Monthly", "continuous" -> "Continual", "daily" -> "Daily")

  /** `OBSOLETE_KEYS` (site_sdi_fise.py:301). */
  val sdiObsoleteKeys: Seq[String] = Seq("obsolete", "superseded")

  /** The `sdi_normalizers` variable (variables.json): normObj + normProp
    * in the reference dict's insertion order (renames are
    * order-sensitive). "true" → "published" exists to map the pinned
    * isPublishedToAll value after its rename to hasWorkflowState.
    * `@type`/`objectProvides` land on graft's type_raw/object_provides
    * columns ([[graft.config.AirflowVariables]] graftAliases). Shared by
    * [[normalizeSdiFise]] and [[normalizeSdi]] (site_sdi.py:1-25 header
    * documents the same mapping).
    */
  val sdiNormalizersConfig: NormConfig = NormConfig(
    typeCol = "type_raw",
    normObj = Map("Kosovo (UNSCR 1244/99)" -> "Kosovo", "true" -> "published"),
    normProp = Seq(
      "type_raw" -> Seq("object_provides"),
      "OrgForResource" -> Seq("organisation"),
      "about" -> Seq("id", "about"),
      "isPublishedToAll" -> Seq("hasWorkflowState"),
      "mainLanguage" -> Seq("language"),
      "resourceAbstractObject.default" -> Seq("description"),
      "resourceTitleObject.default" -> Seq("title", "label"),
      "sdi_gemet" -> Seq("gemet"),
      "sdi_rod" -> Seq("rod"),
      "sdi_spatial" -> Seq("spatial", "places"),
      "sdi_spatialRepresentationType" -> Seq("spatialRepresentationType"),
      "sdi_topics" -> Seq("topic")))

  /** `get_years_from_ranges` (site_sdi_fise.py:125-141): temporal-extent
    * ranges → sorted distinct years, missing ends defaulting to 2010 /
    * `currentYear` (the reference uses datetime.now(); a pinned parameter
    * keeps the pipeline deterministic and cluster-reproducible).
    */
  def yearsFromRanges(ranges: Column, currentYear: Int): Column = {
    val perRange = transform(ranges, r => {
      val yFrom = coalesce(
        substring(r.getField("start").getField("date"), 1, 4).cast("int"), lit(2010))
      val yTo = coalesce(
        substring(r.getField("end").getField("date"), 1, 4).cast("int"), lit(currentYear))
      sequence(yFrom, yTo)
    })
    array_sort(array_distinct(flatten(perRange)))
  }

  /** `get_merged_ranges` (site_sdi_fise.py:85-122): the distinct years,
    * merged back into inclusive [start, end] runs. A year starts a run when
    * year−1 is absent and ends one when year+1 is absent — zipping the two
    * boundary lists reproduces the reference's linear scan. `has_from`/
    * `has_to` (an open-ended reference range) null out the first start /
    * last end like the reference's `del` statements.
    */
  def mergedRanges(ranges: Column, currentYear: Int): Column = {
    val years = yearsFromRanges(ranges, currentYear)
    val starts = filter(years, y => !array_contains(years, y - 1))
    val ends = filter(years, y => !array_contains(years, y + 1))
    val hasFrom = !exists(ranges, r => r.getField("start").getField("date").isNull)
    val hasTo = !exists(ranges, r => r.getField("end").getField("date").isNull)
    val zipped = arrays_zip(starts.as("start"), ends.as("end"))
    transform(zipped, (r, i) => struct(
      when(i =!= 0 || hasFrom, r.getField("start")).as("start"),
      when(i =!= size(zipped) - 1 || hasTo, r.getField("end")).as("end")))
  }

  /** `pre_normalize_sdi` (site_sdi_fise.py:177-298): the SDI-elastic →
    * normalized-doc field mapping that runs BEFORE common_normalizer.
    * Expects the flattened (dotted-key) SDI record schema — the reference
    * calls simplify_elements first; `NormOps.flattenStructs` is the graft
    * twin when the input is still nested. `obligations` is the
    * full_config.obligations rod-link → label map (:272).
    */
  def preNormalizeSdi(docs: DataFrame, obligations: Map[String, String],
      currentYear: Int, fiseIssuedChain: Boolean = true): DataFrame = {
    val c = (n: String) => col("`" + n + "`")
    // :249-252 — OrgForResource falls back to OrgForResourceObject defaults
    val withOrg =
      if (docs.columns.contains("OrgForResource")) docs
      else if (docs.columns.contains("OrgForResourceObject"))
        docs.withColumn("OrgForResource", vocabList(col("OrgForResourceObject"), "default"))
      else docs
    // One batched projection (NormOps.withColumnsBatch — a withColumn per
    // field re-analyzes the whole plan each call and the SDI chains were
    // measured as almost pure Catalyst time): every right-hand side below
    // reads only the INPUT record's columns, never one written in this
    // same batch, so the batch is withColumn-chain-equivalent.
    NormOps.withColumnsBatch(withOrg, Seq(
      "site_id" -> lit("sdi"), // :178
      "type_raw" -> lit("Data set"), // :180 — @type
      "about" -> col("metadataIdentifier"), // :181
      // :193 — the reference pins isPublishedToAll = "true" (its own TODO);
      // sdi_normalizers then renames it to hasWorkflowState and normObj
      // maps "true" → "published"
      "isPublishedToAll" -> lit("true"),
      "review_state" -> lit("published"), // :193-196 (forced true)
      "issued" -> // :205-212 — fallback chain to creation/create date;
        // site_sdi.py:204-209 lacks the creationDateForResource middle step
        (if (fiseIssuedChain)
          coalesce(col("issued"),
            try_element_at(col("publicationDateForResource"), lit(1)),
            try_element_at(col("creationDateForResource"), lit(1)),
            col("createDate"))
        else
          coalesce(col("issued"),
            try_element_at(col("publicationDateForResource"), lit(1)),
            col("createDate"))),
      "overview.url" -> vocabList(col("overview"), "url"), // :221
      "sdi_rod" -> vocabList(c("th_rod-eionet-europa-eu"), "default"), // :224
      "sdi_topics" -> { // :227-241 — two literal renames on eea-topics
        val topics = vocabList(c("th_eea-topics"), "default")
        transform(topics, t =>
          when(t === "Climate mitigation", "climate")
            .when(t === "Climate adaptation", "climate-change-adaptation")
            .otherwise(t))
      },
      "sdi_gemet" -> // :242 — gemet tree leaf, Title Case
        transform(c("th_gemet_tree.default"), v =>
          initcap(try_element_at(split(v, "\\^"), lit(-1)))),
      "sdi_spatialRepresentationType" -> // :245
        vocabList(col("cl_spatialRepresentationType"), "default"),
      "sdi_spatial" -> vocabList(col("th_regions"), "default"), // :252
      "time_coverage" -> // :255
        yearsFromRanges(col("resourceTemporalExtentDetails"), currentYear),
      "merged_time_coverage_range" -> // :258
        mergedRanges(col("resourceTemporalExtentDetails"), currentYear),
      "dataset_formats" -> // :267 — flatten children's format lists
        flatten(transform(col("children"), d => d.getField("format"))),
      "instrument" -> { // :272-281 — rod links → obligation labels
        // try_: the reference's obligations.get(link) yields None for an
        // unmapped link (element_at would throw under ANSI mode)
        val rodLinks = vocabList(c("th_rod-eionet-europa-eu"), "link")
        array_distinct(transform(rodLinks, l =>
          try_element_at(typedLit(obligations), l)))
      },
      "prod_id" -> // :284-293 — DAT-prefixed resource codes
        filter(vocabList(col("resourceIdentifier"), "code"),
          v => v.startsWith("DAT")),
      "title" -> c("resourceTitleObject.default"))) // :295
  }

  /** `normalize_sdi` (site_sdi_fise.py:352-504): pre-normalize →
    * common_normalizer with the `sdi_normalizers` variable's maps → the
    * FISE-specific post fan-out. `archivedExpires` pins the reference's
    * `date.today() - 2 days` obsolete stamp (:326-335) for determinism.
    */
  def normalizeSdiFise(docs: DataFrame, obligations: Map[String, String],
      currentYear: Int, archivedExpires: String): DataFrame = {
    val pre = preNormalizeSdi(docs, obligations, currentYear)
    val common = NormOps.commonNormalizer(pre, sdiNormalizersConfig)

    val freq = try_element_at(col("cl_maintenanceAndUpdateFrequency"), lit(1)).getField("key")
    val isObsolete = exists(col("cl_status"), // :304-323
      s => s.getField("key").isInCollection(sdiObsoleteKeys))
    // Batched like preNormalizeSdi: every expression reads `common`'s
    // columns — in particular `country` and `language` BOTH read the
    // pre-overwrite `language` value, which the batch makes explicit
    // (the sequential chain relied on country preceding language).
    val out = NormOps.withColumnsBatch(common, Seq(
      "cluster_name" -> lit("fise_sdi"), // :377
      "publicationYear" -> // :381-403 — int fallback chain, 2500 default
        coalesce(col("publicationYearForResource").cast("int"),
          col("creationYearForResource").cast("int"),
          try_element_at(col("revisionYearForResource"), lit(-1)).cast("int"),
          lit(2500)),
      "update_frequency_value" -> // :409-448 — key → label, else raw key
        coalesce(try_element_at(typedLit(sdiUpdateFrequency), zsTrim(freq)),
          freq, lit("Unknown")),
      "organisation_name" -> // :452-457 — first contact
        try_element_at(col("contact"), lit(1))
          .getField("organisationObject").getField("default"),
      "organisation_email" ->
        try_element_at(col("contact"), lit(1)).getField("email"),
      // :459-467 — mainLanguage was renamed to `language` by normProp;
      // country reads the scalar code BEFORE language overwrites it in place
      "country" ->
        array(coalesce(try_element_at(typedLit(sdiCountryNames), col("language")), lit("Unknown"))),
      "language" ->
        array(coalesce(try_element_at(typedLit(sdiLangNames), col("language")), lit("Unknown"))),
      "about" -> // :468 — catalogue record URL
        concat(lit("https://sdi.eea.europa.eu/catalogue/fise/api/records/"), col("id")),
      "object_provides" -> // :473-480 — resourceType → SDI type
        when(array_contains(col("resourceType"), "dataset"), array(lit("Spatial dataset")))
          .when(array_contains(col("resourceType"), "service"), array(lit("Data services")))
          .when(array_contains(col("resourceType"), "nonGeographicDataset"),
            array(lit("Tabular dataset")))
          .otherwise(array(lit("SDI"))),
      "time_coverage" -> // :482 — years as strings
        transform(col("time_coverage"), y => y.cast("string")),
      "expires" -> when(isObsolete, lit(archivedExpires)), // :326-335
      "last_modified" -> // :486-489
        coalesce(col("changeDate"), col("dateStamp")),
      "created" -> // :490
        try_element_at(col("creationDateForResource"), lit(1)),
      "date_publication" -> // :492
        try_element_at(col("publicationDateForResource"), lit(1)),
      "publication_year" -> col("creationYearForResource"), // :495
      "topic" -> vocabList(col("cl_topic"), "default"))) // :497-500
    NormOps.addCounts(out, // :483
      listCols = Seq("spatial", "topic", "time_coverage"),
      scalarCols = Seq("cluster_name"))
  }

  // ============================================================= site: sdi

  /** `normalize_sdi` (site_sdi.py:345-363), the plain-SDI registry twin of
    * [[normalizeSdiFise]]. Deltas vs fise's pre-normalize: the issued
    * fallback chain skips creationDateForResource (:204-209), the
    * two-record issued hot-fix is ACTIVE (:213-215), and sdi_topics pass
    * through the theme taxonomy (:236-239, update_from_theme_taxonomy —
    * token → label, unmapped pass through). Post common_normalizer:
    * cluster "sdi" (:351), string time_coverage (:352-356), add_counts
    * (:357), add_expired (:320-330 — cl_status obsolete/superseded stamps
    * `expires`; the reference uses today−2d, pinned via `archivedExpires`
    * for determinism), last_modified = max(children changeDates ∪ own
    * changeDate) (:332-343). readingTime runs inside commonNormalizer when
    * the caller's doc carries fulltext; the SDI record has none (:360
    * check_readingTime no-ops without a fulltext key).
    *
    * DELIBERATE SCALARIZATION (documented delta, like the issued-chain
    * note above): the reference assigns the whole
    * `publicationDateForResource` LIST to issued (:206) and a one-element
    * list for the hot-fix records (:213-215); graft keeps `issued` a
    * scalar string (first element / scalar hot-fix value) because every
    * downstream graft consumer (ES mapping, coverage, oracle queries)
    * treats issued as a date scalar. Key-presence also differs: a present
    * but EMPTY publicationDateForResource yields issued = the fallback
    * here vs an empty list in the reference. Consumers diffing against
    * reference index documents must normalize `issued` to its first
    * element first.
    */
  def normalizeSdi(docs: DataFrame, obligations: Map[String, String],
      currentYear: Int, archivedExpires: String,
      themeTaxonomy: Map[String, String] = Map.empty): DataFrame = {
    val issuedFixIds = Seq( // :213-215 — data-fix for two catalogue records
      "fa8b1229-3db6-495d-b18e-9c9b3267c02b",
      "9636827c-bd0c-40f5-814e-c4065c11c9a0")
    val tax = typedLit(themeTaxonomy)
    val pre = preNormalizeSdi(docs, obligations, currentYear,
        fiseIssuedChain = false)
      .withColumn("sdi_topics", // :236-239
        transform(col("sdi_topics"), t => coalesce(try_element_at(tax, t), t)))
      .withColumn("issued",
        when(col("about").isInCollection(issuedFixIds), lit("2023-08-03T06:00:00Z"))
          .otherwise(col("issued")))

    // the `sdi` variables.json config carries the same sdi_normalizers
    // maps as sdi_fise (site_sdi.py:1-25 header documents the mapping)
    val common = NormOps.commonNormalizer(pre, sdiNormalizersConfig)

    val isObsolete = exists(col("cl_status"), // :298-317
      s => s.getField("key").isInCollection(sdiObsoleteKeys))
    // :332-343 — children changeDates, nulls out. A doc with NO children
    // (removeEmpty nulls the emptied list) still takes its own changeDate,
    // so the null list degrades to empty, not to a null-poisoned concat.
    val childMods = coalesce(
      filter(transform(col("children"), d => d.getField("changeDate")),
        m => m.isNotNull),
      array().cast("array<string>"))
    val out = NormOps.withColumnsBatch(common, Seq(
      "cluster_name" -> lit("sdi"), // :351
      "time_coverage" -> // :352-356 — years as strings
        transform(col("time_coverage"), y => y.cast("string")),
      "expires" -> when(isObsolete, lit(archivedExpires)), // :320-330
      "last_modified" -> // :332-343 — max over children ∪ self
        array_max(concat(childMods,
          filter(array(col("changeDate")), m => m.isNotNull)))))
    NormOps.addCounts(out,
      listCols = Seq("spatial", "topic", "time_coverage"),
      scalarCols = Seq("cluster_name"))
  }

  // ================================================== site: wise_freshwater

  /** `config_wise_freshwater.normalize` (variables.json). */
  val wiseFreshwaterWhitelist: Seq[String] = Seq(
    "Document", "Page", "File", "News Item", "visualization", "CompositePage",
    "dashboard", "dataset", "database", "briefing", "map_interactive",
    "country_profile", "measure", "case_study", "source")

  val wiseFreshwaterLocationRules: Seq[(String, Seq[String])] =
    Seq("/freshwater/europe-freshwater/*" -> Seq("Topic page"))

  /** The `default_normalizers.normObj` slice for this site's portal types. */
  val wiseFreshwaterNormObj: Map[String, String] = Map(
    "Document" -> "Webpage", "Page" -> "Webpage", "File" -> "File",
    "News Item" -> "News", "visualization" -> "Chart (interactive)",
    "CompositePage" -> "Webpage", "dashboard" -> "Dashboard",
    "dataset" -> "Data set", "database" -> "Data set",
    "briefing" -> "Briefing", "map_interactive" -> "Map (interactive)",
    "country_profile" -> "Country fact sheet", "measure" -> "Measure",
    "case_study" -> "Case study", "source" -> "Source")

  /** The types whose presence in objectProvides excludes a freshwater doc
    * from global search (site_wise_freshwater.py:66-71).
    */
  val wiseFreshwaterExcludeTypes: Seq[String] =
    Seq("Measure", "Source", "Case study", "chemical")

  /** `normalized_bep` (site_wise_freshwater.py:137-157): strip the
    * "BP12 - " / "ES3 - " / "PO1 - " code prefix from each list value;
    * values that don't full-match the pattern pass through.
    */
  def bepStrip(c: Column, prefix: String): Column = {
    val pat = "^" + prefix + "\\d+\\s-\\s(.+)$"
    transform(c, x =>
      when(x.rlike(pat), zsTrim(regexp_extract(x, pat, 1))).otherwise(x))
  }

  /** `normalize_freshwater` (site_wise_freshwater.py:22-131) end-to-end.
    * Expected input columns: id (@id URL), type_raw (@type), review_state,
    * title, spatial, text, summary, biophysical_impacts /
    * ecosystem_services / policy_objectives struct<value:array<struct<name>>>,
    * legislative_reference array<struct<title>>, category array<string>,
    * measure_sector, country array<string>, measure_summary struct<data>
    * (html — the Measure description override; trafilatura.extract is
    * approximated by the cleanhtml tag-strip per SURVEY §6).
    */
  def normalizeWiseFreshwater(docs: DataFrame,
      whitelist: Seq[String] = wiseFreshwaterWhitelist,
      locationRules: Seq[(String, Seq[String])] = wiseFreshwaterLocationRules,
      normObj: Map[String, String] = wiseFreshwaterNormObj): DataFrame = {
    val pre = docs
      .withColumn("spatial", // :39 — country profile's spatial is its title
        when(col("type_raw") === "country_profile", array(col("title")))
          .otherwise(col("spatial")))
      .withColumn("themes", array(lit("water"))) // :42
      .withColumn("object_provides_scalar", col("type_raw"))

    val common = NormOps.commonNormalizer(pre, NormConfig(
      typeCol = "type_raw",
      typeWhitelist = whitelist,
      workflowStateCol = Some("review_state"),
      joinText = Some(JoinTextConfig("text", "title", Seq("summary"))),
      normObj = normObj,
      normObjCols = Some(Seq("object_provides_scalar")),
      descriptionCol = Some("description")))

    // :50-60 — ONLY Webpage re-resolves by location rules (narrower than
    // wise_marine's Webpage+factsheet set)
    val docLoc = regexp_replace(parse_url(col("id"), lit("PATH")), "^/+|/+\\z", "")
    def stripSlashes(s: String) = s.replaceAll("^/+|/+\\z", "")
    val byRules = locationRules.foldLeft(lit(null).cast("array<string>")) {
      case (acc, (path, ct)) =>
        val matched =
          if (path.endsWith("*")) docLoc.startsWith(stripSlashes(path.stripSuffix("*")))
          else docLoc === stripSlashes(path)
        when(matched, array(ct.map(lit): _*)).otherwise(acc)
    }
    val reResolved = when(col("object_provides_scalar") === "Webpage",
      coalesce(byRules, array(lit("Webpage"))))
      .otherwise(array(col("object_provides_scalar")))
    // :61-65 — Data-set collapse, same as marine
    val dataSetFixed = when(array_contains(reResolved, "Data set"),
      when(size(reResolved) === 1, array(lit("Webpage")))
        .otherwise(array_remove(reResolved, "Webpage")))
      .otherwise(reResolved)

    val op = col("object_provides")
    val isMeasure = array_contains(op, "Measure")
    val out = common
      .withColumn("object_provides", dataSetFixed)
      .drop("object_provides_scalar")
      // :66-71 — exclude Measure/Source/Case study/chemical docs
      .withColumn("exclude_from_globalsearch",
        when(wiseFreshwaterExcludeTypes
          .map(t => array_contains(op, t)).reduce(_ || _), array(lit("True"))))
      // :77-105 — bep vocab fan-out with code-prefix strip
      .withColumn("biophysical_impacts",
        bepStrip(vocabList(col("biophysical_impacts.value"), "name"), "BP"))
      .withColumn("ecosystem_services",
        bepStrip(vocabList(col("ecosystem_services.value"), "name"), "ES"))
      .withColumn("policy_objectives",
        bepStrip(vocabList(col("policy_objectives.value"), "name"), "PO"))
      // :106-114 — struct-vocab variant (string-list inputs pass a caller
      // projection instead, mirroring the reference's isinstance branch)
      .withColumn("legislative_reference", vocabList(col("legislative_reference")))
      .withColumn("cluster_name", lit("wise-freshwater")) // :118
      // :120-122 — country moves to wise_country, source key removed
      .withColumn("wise_country", col("country"))
      .drop("country")
      // :126-130 — Measure description from measure_summary html
      .withColumn("description",
        when(isMeasure && col("measure_summary.data").isNotNull,
          graft.functions.TextFns.cleanHtml(col("measure_summary.data")))
          .otherwise(col("description")))
    NormOps.addCounts(out,
      listCols = Seq("object_provides", "policy_objectives"),
      scalarCols = Seq("cluster_name"))
  }

  // ============================================================= site: bise

  /** `config_bise.normalize` (variables.json). */
  val biseWhitelist: Seq[String] = Seq(
    "Document", "Page", "CompositePage", "File", "News Item", "visualization",
    "bise_factsheet")

  val biseLocationRules: Seq[(String, Seq[String])] = Seq(
    "/protected-areas" -> Seq("Topic page"),
    "/protected-areas/*" -> Seq("Topic page", "Webpage"),
    "/threats/*" -> Seq("Topic page", "Webpage"),
    "/ecosystems/*" -> Seq("Topic page", "Webpage"))

  val biseNormObj: Map[String, String] = Map(
    "Document" -> "Webpage", "Page" -> "Webpage", "CompositePage" -> "Webpage",
    "File" -> "File", "News Item" -> "News",
    "visualization" -> "Chart (interactive)",
    "bise_factsheet" -> "Country fact sheet")

  /** `normalize_biodiversity_europa_eu` (site_biodiversity.py:20-66):
    * factsheet spatial, themes=["biodiversity"], Webpage location
    * re-resolution, Country-fact-sheet → +Dashboard pairing.
    */
  def normalizeBise(docs: DataFrame,
      whitelist: Seq[String] = biseWhitelist,
      locationRules: Seq[(String, Seq[String])] = biseLocationRules,
      normObj: Map[String, String] = biseNormObj): DataFrame = {
    val pre = docs
      .withColumn("spatial", // :37 — factsheet spatial is its title
        when(col("type_raw") === "bise_factsheet", array(col("title")))
          .otherwise(col("spatial")))
      .withColumn("themes", array(lit("biodiversity"))) // :40
      .withColumn("object_provides_scalar", col("type_raw"))

    val common = NormOps.commonNormalizer(pre, NormConfig(
      typeCol = "type_raw",
      typeWhitelist = whitelist,
      workflowStateCol = Some("review_state"),
      joinText = Some(JoinTextConfig("text", "title", Seq("summary"))),
      normObj = normObj,
      normObjCols = Some(Seq("object_provides_scalar")),
      descriptionCol = Some("description")))

    val docLoc = regexp_replace(parse_url(col("id"), lit("PATH")), "^/+|/+\\z", "")
    def stripSlashes(s: String) = s.replaceAll("^/+|/+\\z", "")
    val byRules = locationRules.foldLeft(lit(null).cast("array<string>")) {
      case (acc, (path, ct)) =>
        val matched =
          if (path.endsWith("*")) docLoc.startsWith(stripSlashes(path.stripSuffix("*")))
          else docLoc === stripSlashes(path)
        when(matched, array(ct.map(lit): _*)).otherwise(acc)
    }
    // :46-56 — Webpage re-resolves; :57-58 — a factsheet pairs with Dashboard
    val resolved =
      when(col("object_provides_scalar") === "Webpage",
        coalesce(byRules, array(lit("Webpage"))))
        .when(col("object_provides_scalar") === "Country fact sheet",
          array(lit("Country fact sheet"), lit("Dashboard")))
        .otherwise(array(col("object_provides_scalar")))
    val out = common
      .withColumn("object_provides", resolved)
      .drop("object_provides_scalar")
      .withColumn("cluster_name", lit("bise")) // :60
    NormOps.addCounts(out,
      listCols = Seq("object_provides"), scalarCols = Seq("cluster_name"))
  }

  // ============================================================ site: noise

  /** `get_page_title` (normalizers.py:254): the <title> text of the scraped
    * page html (trafilatura's metadata title; the rigid <title> leaf makes
    * the regex extraction exact).
    */
  def pageTitle(html: Column): Column =
    zsTrim(regexp_extract(html, "(?is)<title[^>]*>(.*?)</title>", 1))

  /** `normalize_industry`@noise (site_noise.py:23-45): every doc is forced
    * to a published Page, then constants — objectProvides
    * [Webpage, Map (interactive)], topic [Noise], a pinned issued stamp —
    * and the title comes from the scraped page's <title>. Expected input:
    * id, text, summary, web_html.
    */
  def normalizeNoise(docs: DataFrame): DataFrame = {
    val pre = docs
      .withColumn("type_raw", lit("Page")) // :30
      .withColumn("review_state", lit("published")) // :31
      .withColumn("title", pageTitle(col("web_html"))) // :40 (pre-joinText)

    val common = NormOps.commonNormalizer(pre, NormConfig(
      typeCol = "type_raw",
      workflowStateCol = Some("review_state"),
      joinText = Some(JoinTextConfig("text", "title", Seq("summary"))),
      descriptionCol = Some("description")))

    val out = common
      .withColumn("cluster_name", lit("noise")) // :35
      .withColumn("object_provides", // :36
        array(lit("Webpage"), lit("Map (interactive)")))
      .withColumn("topic", array(lit("Noise"))) // :37
      .withColumn("issued", lit("2021-07-01T13:47:12.000Z")) // :38
    NormOps.addCounts(out,
      listCols = Seq("object_provides", "topic"), scalarCols = Seq("cluster_name"))
  }

  // ============================================================== site: eea

  /** Token-set Dice coefficient 2·|A∩B| / (|A|+|B|) — the stand-in for
    * site_eea_europa_eu.py:15's difflib `SequenceMatcher.ratio()` (a
    * sequence-alignment ratio has no relational equivalent; at the 0.2
    * "mostly similar text" threshold the token-overlap contract is the
    * same). NULL inputs score 0.
    */
  def diceSim(a: Column, b: Column): Column = {
    val ta = array_distinct(split(zsTrim(coalesce(a, lit(""))), "\\s+"))
    val tb = array_distinct(split(zsTrim(coalesce(b, lit(""))), "\\s+"))
    when(size(ta) + size(tb) === 0, lit(0.0))
      .otherwise(size(array_intersect(ta, tb)) * 2.0 / (size(ta) + size(tb)))
  }

  /** `normalize_eea_europa_eu` (site_eea_europa_eu.py:18-52): the flagship
    * site. Expected input columns: id, type_raw (@type, NULL drops the
    * row), review_state, title, text, summary, description,
    * parent_type/parent_description (the Fiche duplicate check :26-29),
    * source, language (post-common fill exercised via normMissing),
    * has_duplicate (duplicate_info.has_duplicate :45).
    */
  def normalizeEea(docs: DataFrame): DataFrame = {
    val isFiche = col("type_raw") === "Fiche"
    val ficheDup = isFiche && col("parent_type") === "Report" &&
      diceSim(col("description"), col("parent_description")) > 0.2
    val pre = docs
      .filter(col("type_raw").isNotNull) // :21-22
      .filter(!coalesce(ficheDup, lit(false))) // :26-29 — duplicated Fiche
      .withColumn("object_provides_scalar", col("type_raw"))

    val common = NormOps.commonNormalizer(pre, NormConfig(
      typeCol = "type_raw",
      dropTypes = Seq("Plone Site"), // :23-24
      workflowStateCol = Some("review_state"),
      joinText = Some(JoinTextConfig("text", "title", Seq("summary"))),
      normObj = Map("Document" -> "Webpage", "Page" -> "Webpage",
        "Fiche" -> "Briefing", "Term" -> "Glossary term",
        "helpcenter_faq" -> "FAQ", "News Item" -> "News"),
      normObjCols = Some(Seq("object_provides_scalar")),
      normMissing = Seq("language" -> "en"),
      descriptionCol = Some("description")))

    val isTerm = col("type_raw") === "Term"
    val hasDup = coalesce(col("has_duplicate"), lit(false))
    val counted = NormOps.addCounts(
      common
        // :34-35 — English FAQ entries are dropped AFTER normalization
        .filter(!(col("language") === "en" && col("type_raw") === "helpcenter_faq"))
        // :37-39 — glossary terms carry their raw description/source
        .withColumn("term_description", when(isTerm, col("description")))
        .withColumn("term_source", when(isTerm, col("source")))
        .withColumn("cluster_name", lit("eea")) // :40
        .withColumn("object_provides", array(col("object_provides_scalar")))
        .drop("object_provides_scalar"),
      listCols = Seq("object_provides"), scalarCols = Seq("cluster_name"))
    // :45-48 — docs flagged duplicate ALSO count as a Briefing
    counted
      .withColumn("object_provides",
        when(hasDup && !array_contains(col("object_provides"), "Briefing"),
          concat(col("object_provides"), array(lit("Briefing"))))
          .otherwise(col("object_provides")))
      .withColumn("items_count_object_provides",
        size(col("object_provides")).cast("long"))
  }

  // =========================================================== site: eea_en

  /** `config_eea_en.attribute_to_content_type_mapping` (variables.json):
    * a doc whose `subjects` contains the key (case-insensitive) gains the
    * mapped content types — `update_ct_by_attr` (normalizers.py:662).
    */
  val eeaEnAttrMapping: Seq[(String, Seq[String])] = Seq(
    "country fact sheet" -> Seq("Country fact sheet"),
    "country profile" -> Seq("Country fact sheet"))

  /** `normalize_eea_europa_eu`@eea_en (site_eea_europa_eu_en.py:28-70):
    * the www.eea.europa.eu/en site — sandbox-path drop, taxonomy vocab
    * fan-out, File/Image workflow backfill, visualization-Indicator title
    * rule, and the attr-mapping content-type append. Expected input
    * columns: id, type_raw (@type; NULL drops), review_state, title, text,
    * summary, description, creation_date, topics / taxonomy_dpsir /
    * taxonomy_typology / taxonomy_un_sdgs array<struct<title>>,
    * subjects array<string>.
    */
  def normalizeEeaEn(docs: DataFrame,
      attrMapping: Seq[(String, Seq[String])] = eeaEnAttrMapping): DataFrame = {
    val pre = docs
      .filter(col("type_raw").isNotNull) // :32-33
      .withColumn("object_provides_scalar", col("type_raw"))

    val common = NormOps.commonNormalizer(pre, NormConfig(
      typeCol = "type_raw",
      dropTypes = Seq("Plone Site"), // :34-35
      workflowStateCol = Some("review_state"),
      joinText = Some(JoinTextConfig("text", "title", Seq("summary"))),
      normObj = Map("Document" -> "Webpage", "Page" -> "Webpage",
        "File" -> "File", "News Item" -> "News",
        "visualization" -> "Chart (interactive)"),
      normObjCols = Some(Seq("object_provides_scalar")),
      descriptionCol = Some("description")))

    // :41-44 — any 'sandbox' PATH SEGMENT drops the doc post-normalization
    val pathParts = split(
      regexp_replace(parse_url(col("id"), lit("PATH")), "^/+|/+\\z", ""), "/")
    val opBase = array(col("object_provides_scalar"))
    val isFileOrImage =
      array_contains(opBase, "File") || array_contains(opBase, "Image")
    val backfillState = isFileOrImage && col("workflow_state") === "missing"
    val s1 = common
      .filter(!array_contains(pathParts, "sandbox"))
      .withColumn("cluster_name", lit("eea")) // :46
      .withColumn("topic", vocabList(col("topics"))) // :48 add_topic
      .withColumn("dpsir", vocabList(col("taxonomy_dpsir"))) // :50
      .withColumn("typology", vocabList(col("taxonomy_typology")))
      .withColumn("un_sdgs", vocabList(col("taxonomy_un_sdgs")))
      // :56-63 — File/Image with a missing workflow state publish, issued
      // backfills from creation_date (`issued` is optional input — the
      // reference reads it with doc.get)
      .withColumn("issued", {
        val issued0 =
          if (common.columns.contains("issued")) col("issued")
          else lit(null).cast("string")
        when(backfillState && issued0.isNull, col("creation_date"))
          .otherwise(issued0)
      })
      .withColumn("workflow_state",
        when(backfillState, lit("published")).otherwise(col("workflow_state")))
      // :64-65 — a visualization whose title mentions Indicator is one
      .withColumn("object_provides",
        when(col("type_raw") === "visualization" &&
          coalesce(col("title"), lit("")).contains("Indicator"),
          concat(opBase, array(lit("Indicator")))).otherwise(opBase))
      .drop("object_provides_scalar")

    // :68 update_ct_by_attr (normalizers.py:662): case-insensitive subjects
    // membership appends mapped types not already present
    def appendIfAbsent(op: Column, v: String): Column =
      when(array_contains(op, v), op).otherwise(concat(op, array(lit(v))))
    val subjectsLc = transform(
      coalesce(col("subjects"), array().cast("array<string>")), x => lower(x))
    val withAttr = attrMapping.foldLeft(col("object_provides")) {
      case (op, (key, newOps)) =>
        val hit = array_contains(subjectsLc, key.toLowerCase)
        newOps.foldLeft(op)((o, n) => when(hit, appendIfAbsent(o, n)).otherwise(o))
    }
    NormOps.addCounts(
      s1.withColumn("object_provides", withAttr),
      listCols = Seq("object_provides", "topic"),
      scalarCols = Seq("cluster_name"))
  }

  // =================================== simple sites: industry, cab, ias…

  /** The GENERIC site shape shared by the reference's small wrappers
    * (site_industry.py:22-57, site_climate_advisory_board.py:20-45, …):
    * whitelist admission → optional themes constant → common_normalizer →
    * cluster_name → add_counts. Everything else in those files is logging.
    */
  def normalizeSimpleSite(docs: DataFrame, cluster: String,
      themes: Seq[String] = Nil,
      whitelist: Seq[String] = Nil,
      normObj: Map[String, String] = Map(
        "Document" -> "Webpage", "Page" -> "Webpage", "File" -> "File",
        "News Item" -> "News")): DataFrame = {
    val pre0 =
      if (themes.isEmpty) docs
      else docs.withColumn("themes", array(themes.map(lit): _*))
    val pre = pre0.withColumn("object_provides_scalar", col("type_raw"))
    val common = NormOps.commonNormalizer(pre, NormConfig(
      typeCol = "type_raw",
      typeWhitelist = whitelist,
      workflowStateCol = Some("review_state"),
      joinText = Some(JoinTextConfig("text", "title", Seq("summary"))),
      normObj = normObj,
      normObjCols = Some(Seq("object_provides_scalar")),
      descriptionCol = Some("description")))
    NormOps.addCounts(
      common
        .withColumn("object_provides", array(col("object_provides_scalar")))
        .drop("object_provides_scalar")
        .withColumn("cluster_name", lit(cluster)),
      listCols = Seq("object_provides"), scalarCols = Seq("cluster_name"))
  }

  /** site_industry.py:22-57 with `config_industry` (variables.json). */
  def normalizeIndustry(docs: DataFrame): DataFrame =
    normalizeSimpleSite(docs, cluster = "industry", themes = Seq("industry"),
      whitelist = Seq("Document", "Page"))

  /** site_climate_advisory_board.py:20-45 — empty whitelist admits all. */
  def normalizeCab(docs: DataFrame): DataFrame =
    normalizeSimpleSite(docs, cluster = "cab")

  /** site_ias.py:20-57: the simple shape plus the european-statistics
    * path override — a Map-titled product is a Map (interactive),
    * anything else there is a Dashboard.
    */
  def normalizeIas(docs: DataFrame): DataFrame = {
    val base = normalizeSimpleSite(docs, cluster = "ias",
      themes = Seq("biodiversity"),
      whitelist = Seq("Document", "Page", "News Item"))
    val parts = split(
      regexp_replace(parse_url(col("id"), lit("PATH")), "^/+|/+\\z", ""), "/")
    val isStats = try_element_at(parts, lit(1)) === "products" &&
      try_element_at(parts, lit(2)) === "european-statistics"
    base
      .withColumn("object_provides",
        when(isStats && !coalesce(col("title"), lit("")).startsWith("Map"),
          array(lit("Dashboard")))
          .when(isStats, array(lit("Map (interactive)")))
          .otherwise(col("object_provides")))
      .withColumn("items_count_object_provides",
        size(col("object_provides")).cast("long"))
  }

  // ========================================================== site: energy

  val energyWhitelist: Seq[String] =
    Seq("Document", "Page", "File", "News Item", "visualization")

  val energyLocationRules: Seq[(String, Seq[String])] =
    Seq("/countries/*" -> Seq("Country fact sheet"))

  /** `normalize_energy` (site_energy.py:20-69): UNCONDITIONAL location-rule
    * resolution (every admitted doc, not just Webpages), factsheet spatial
    * from the title, the resource_type Data → Dashboard override, and the
    * /topics/…/intro → Topic page rule. Expected input adds
    * resource_type struct<token> (optional).
    */
  def normalizeEnergy(docs: DataFrame,
      whitelist: Seq[String] = energyWhitelist,
      locationRules: Seq[(String, Seq[String])] = energyLocationRules): DataFrame = {
    val pre = docs
      .withColumn("themes", array(lit("energy"))) // :37
      .withColumn("object_provides_scalar", col("type_raw"))
    val common = NormOps.commonNormalizer(pre, NormConfig(
      typeCol = "type_raw",
      typeWhitelist = whitelist,
      workflowStateCol = Some("review_state"),
      joinText = Some(JoinTextConfig("text", "title", Seq("summary"))),
      normObj = Map("Document" -> "Webpage", "Page" -> "Webpage",
        "File" -> "File", "News Item" -> "News",
        "visualization" -> "Chart (interactive)"),
      normObjCols = Some(Seq("object_provides_scalar")),
      descriptionCol = Some("description")))

    val docLoc = regexp_replace(parse_url(col("id"), lit("PATH")), "^/+|/+\\z", "")
    def stripSlashes(s: String) = s.replaceAll("^/+|/+\\z", "")
    val byRules = locationRules.foldLeft(lit(null).cast("array<string>")) {
      case (acc, (path, ct)) =>
        val matched =
          if (path.endsWith("*")) docLoc.startsWith(stripSlashes(path.stripSuffix("*")))
          else docLoc === stripSlashes(path)
        when(matched, array(ct.map(lit): _*)).otherwise(acc)
    }
    val parts = split(docLoc, "/")
    val ct0 = coalesce(byRules, array(lit("Webpage"))) // :44-48 unconditional
    val ct = when(col("resource_type.token") === "Data", array(lit("Dashboard"))) // :52-53
      .when(try_element_at(parts, lit(1)) === "topics" &&
        try_element_at(parts, lit(-1)) === "intro",
        array(lit("Topic page"))) // :55-60
      .otherwise(ct0)
    NormOps.addCounts(
      common
        .withColumn("spatial", // :49-50 — factsheet spatial is the title
          when(try_element_at(ct0, lit(1)) === "Country fact sheet", col("title")))
        .withColumn("object_provides", ct)
        .drop("object_provides_scalar")
        .withColumn("cluster_name", lit("energy")), // :63
      listCols = Seq("object_provides"), scalarCols = Seq("cluster_name"))
  }

  // ========================================================== site: forest

  val forestWhitelist: Seq[String] = Seq(
    "Document", "Page", "News Item", "basic_data_factsheet",
    "european_union_factsheet", "country_biodiversity_factsheet",
    "country_bioeconomy_factsheet", "country_climate_factsheet",
    "country_vitality_factsheet")

  val forestLocationRules: Seq[(String, Seq[String])] = Seq(
    "/topics/*" -> Seq("Topic page"),
    "/policy/*" -> Seq("Webpage"),
    "/countries/regions/european-union" -> Seq("Dashboard"))

  /** The factsheet portal types whose spatial comes from the PARENT title
    * (site_forest.py:39-48) — all map to "Country fact sheet" in
    * default_normalizers.
    */
  val forestFactsheetTypes: Seq[String] = Seq(
    "basic_data_factsheet", "european_union_factsheet",
    "country_biodiversity_factsheet", "country_bioeconomy_factsheet",
    "country_climate_factsheet", "country_vitality_factsheet")

  /** `normalize_forest` (site_forest.py:21-85): data-catalogue drop,
    * parent-title spatial for factsheets (unless the parent is 'Regions'),
    * Webpage location rules with the topics fallback (+places=EU27), and
    * the Country-fact-sheet → Dashboard / pair split on the EU region
    * path. Expected input adds: about, parent struct<title>.
    */
  def normalizeForest(docs: DataFrame,
      whitelist: Seq[String] = forestWhitelist,
      locationRules: Seq[(String, Seq[String])] = forestLocationRules): DataFrame = {
    val isFactsheet = col("type_raw").isInCollection(forestFactsheetTypes)
    val pre = docs
      .filter(!col("about").contains("/resources/data-catalogue")) // :37-38
      .withColumn("spatial", // :39-48
        when(isFactsheet && col("parent.title") =!= "Regions",
          array(col("parent.title"))).otherwise(col("spatial")))
      .withColumn("themes", array(lit("biodiversity"))) // :50
      .withColumn("object_provides_scalar", col("type_raw"))
    val common = NormOps.commonNormalizer(pre, NormConfig(
      typeCol = "type_raw",
      typeWhitelist = whitelist,
      workflowStateCol = Some("review_state"),
      joinText = Some(JoinTextConfig("text", "title", Seq("summary"))),
      normObj = Map("Document" -> "Webpage", "Page" -> "Webpage",
        "News Item" -> "News") ++
        forestFactsheetTypes.map(_ -> "Country fact sheet").toMap,
      normObjCols = Some(Seq("object_provides_scalar")),
      normMissing = Seq("places" -> "unknown"),
      descriptionCol = Some("description")))

    val docLoc = regexp_replace(parse_url(col("id"), lit("PATH")), "^/+|/+\\z", "")
    def stripSlashes(s: String) = s.replaceAll("^/+|/+\\z", "")
    val byRules = locationRules.foldLeft(lit(null).cast("array<string>")) {
      case (acc, (path, ct)) =>
        val matched =
          if (path.endsWith("*")) docLoc.startsWith(stripSlashes(path.stripSuffix("*")))
          else docLoc === stripSlashes(path)
        when(matched, array(ct.map(lit): _*)).otherwise(acc)
    }
    val scalarOp = col("object_provides_scalar")
    val ruleCt = coalesce(byRules, array(lit("Webpage")))
    // :58-70 — Webpage resolves by rules; a lone-Webpage result on a
    // /topics path upgrades to Topic page with places backfilled to EU27
    val topicsFallback = ruleCt === array(lit("Webpage")) &&
      docLoc.startsWith("topics")
    val webCt = when(topicsFallback, array(lit("Topic page"))).otherwise(ruleCt)
    // :71-79 — factsheets: EU region path → Dashboard, else the pair
    val ct = when(scalarOp === "Webpage", webCt)
      .when(scalarOp === "Country fact sheet",
        when(docLoc.startsWith("countries/regions/european-union"),
          array(lit("Dashboard")))
          .otherwise(array(lit("Country fact sheet"), lit("Dashboard"))))
      .otherwise(array(scalarOp))
    NormOps.addCounts(
      common
        .withColumn("places",
          when(scalarOp === "Webpage" && topicsFallback &&
            col("places") === "unknown", lit("EU27")).otherwise(col("places")))
        .withColumn("object_provides", ct)
        .drop("object_provides_scalar")
        .withColumn("cluster_name", lit("fise")), // :56
      listCols = Seq("object_provides"), scalarCols = Seq("cluster_name"))
  }

  // ========================================================== site: eionet

  val eionetWhitelist: Seq[String] = Seq(
    "Collection", "Page", "Document", "Folder", "File", "News Item", "etc_report")

  /** The etcs/<etc-*> path-segment → topic terms map
    * (site_eionet.py:46-71).
    */
  val eionetTopicMap: Seq[(String, Seq[String])] = Seq(
    "etc-atni" -> Seq("term2", "term29"),
    "etc-bd" -> Seq("term4"),
    "etc-cca" -> Seq("term10"),
    "etc-cme" -> Seq("term11", "term14"),
    "etc-icm" -> Seq("term45", "term34"),
    "etc-uls" -> Seq("term23", "term35"))

  /** `normalize_eionet` (site_eionet.py:20-80): issued from
    * publication_date, cluster "etc", per-ETC topic terms by path segment.
    */
  def normalizeEionet(docs: DataFrame,
      whitelist: Seq[String] = eionetWhitelist): DataFrame = {
    val pre = docs.withColumn("object_provides_scalar", col("type_raw"))
    val common = NormOps.commonNormalizer(pre, NormConfig(
      typeCol = "type_raw",
      typeWhitelist = whitelist,
      workflowStateCol = Some("review_state"),
      joinText = Some(JoinTextConfig("text", "title", Seq("summary"))),
      normObj = Map("Document" -> "Webpage", "Page" -> "Webpage",
        "Folder" -> "Webpage", "File" -> "File", "News Item" -> "News",
        "etc_report" -> "Report"),
      normObjCols = Some(Seq("object_provides_scalar")),
      descriptionCol = Some("description")))
    val parts = split(
      regexp_replace(parse_url(col("id"), lit("PATH")), "^/+|/+\\z", ""), "/")
    val etc = when(try_element_at(parts, lit(1)) === "etcs",
      try_element_at(parts, lit(2)))
    val topic = eionetTopicMap.foldLeft(lit(null).cast("array<string>")) {
      case (acc, (seg, terms)) =>
        when(etc === seg, array(terms.map(lit): _*)).otherwise(acc)
    }
    NormOps.addCounts(
      common
        .withColumn("issued", // :41 — publication_date wins
          coalesce(col("publication_date"),
            if (common.columns.contains("issued")) col("issued")
            else lit(null).cast("string")))
        .withColumn("cluster_name", lit("etc")) // :43
        .withColumn("topic", topic)
        .withColumn("object_provides", array(col("object_provides_scalar")))
        .drop("object_provides_scalar"),
      listCols = Seq("object_provides", "topic"), scalarCols = Seq("cluster_name"))
  }

  // ======================================================== site: discomap

  /** `normalize_industry`@discomap (site_discomap.py:22-60): every doc is a
    * forced published Page titled from its scraped html; the climatechange
    * and atlas URL families get topic constants and home-vs-map
    * objectProvides. Expected input: id (full URL), text, summary,
    * web_html, modified.
    */
  def normalizeDiscomap(docs: DataFrame): DataFrame = {
    val pre = docs
      .withColumn("type_raw", lit("Page")) // :31
      .withColumn("review_state", lit("published")) // :32
      .withColumn("title", pageTitle(col("web_html"))) // :37
    val common = NormOps.commonNormalizer(pre, NormConfig(
      typeCol = "type_raw",
      workflowStateCol = Some("review_state"),
      joinText = Some(JoinTextConfig("text", "title", Seq("summary"))),
      descriptionCol = Some("description")))

    val loc = col("id")
    val locStripped = regexp_replace(loc, "/+\\z", "")
    val ccHome = locStripped.isInCollection(Seq(
      "https://discomap.eea.europa.eu/climatechange/?page=Home",
      "https://discomap.eea.europa.eu/climatechange"))
    val atlasHome = locStripped.isInCollection(Seq(
      "https://discomap.eea.europa.eu/atlas/?page=Learn-more",
      "https://discomap.eea.europa.eu/atlas/?page=Home",
      "https://discomap.eea.europa.eu/atlas"))
    val isCc = loc.startsWith("https://discomap.eea.europa.eu/climatechange")
    val isAtlas = loc.startsWith("https://discomap.eea.europa.eu/atlas")
    NormOps.addCounts(
      common
        .withColumn("cluster_name", lit("discomap")) // :38
        .withColumn("issued", col("modified")) // :40
        .withColumn("topic", // :42-43, :49-50
          when(isCc, array(lit("Climate change adaptation"),
            lit("Climate change mitigation")))
            .when(isAtlas, array(lit("Environmental health impacts"))))
        .withColumn("object_provides", // :44-47, :51-54
          when(isCc, when(ccHome, array(lit("Webpage")))
            .otherwise(array(lit("Map (interactive)"))))
            .when(isAtlas, when(atlasHome, array(lit("Webpage")))
              .otherwise(array(lit("Map (interactive)"))))),
      listCols = Seq("object_provides", "topic"), scalarCols = Seq("cluster_name"))
  }

  // =================================================== site: fise_resource

  /** `normalize_fise` (site_fise.py:23-91): the FISE resource-catalogue
    * companion of sdi_fise — resource_type drives objectProvides, country
    * comes from geo_coverage geolocation labels, publicationYear from
    * publishing_year, update frequency is pinned, topics from
    * resource_topics; the global normObj map re-applies after the fan-out
    * (second apply_norm_obj, :85). Expected input: id, type_raw,
    * resource_type, review_state, title, text, summary, uid, created,
    * subjects array<string>, resource_topics array<string>,
    * publishing_year, geo_coverage struct<geolocation:array<struct<label>>>.
    */
  def normalizeFiseResource(docs: DataFrame,
      whitelist: Seq[String] = Nil,
      normObj: Map[String, String] = Map("Kosovo (UNSCR 1244/99)" -> "Kosovo")): DataFrame = {
    val common = NormOps.commonNormalizer(docs, NormConfig(
      typeCol = "type_raw",
      typeWhitelist = whitelist,
      workflowStateCol = Some("review_state"),
      joinText = Some(JoinTextConfig("text", "title", Seq("summary"))),
      descriptionCol = Some("description")))
    val m = typedLit(normObj)
    // :85 — the reference re-applies apply_norm_obj AFTER the site fan-out;
    // country is the list the second pass exists for (Kosovo label)
    def normed(c: Column): Column =
      transform(c, x => coalesce(try_element_at(m, x), x))
    NormOps.addCounts(
      common
        .withColumn("country",
          normed(vocabList(col("geo_coverage.geolocation"), "label"))) // :66-69
        .withColumn("cluster_name", lit("fise_sdi")) // :76
        .withColumn("object_provides", array(col("resource_type"))) // :77
        .withColumn("keywords", col("subjects")) // :78
        .withColumn("publicationYear", col("publishing_year")) // :79
        .withColumn("update_frequency_value", lit("As needed")) // :81 FORCED
        .withColumn("topic", col("resource_topics")), // :86
      listCols = Seq("object_provides", "country", "topic"),
      scalarCols = Seq("cluster_name"))
  }

  // ================================================= site: copernicus_land

  /** `normalize_copernicus_land` (site_copernicus_land.py:47-75;
    * site_copernicus_demo_land.py is the same function under another
    * registry name): technical-library taxonomy facets (tree-leaf values,
    * `»`-prefix facet groups deduped keeping first occurrence), file size,
    * version, and the TechnicalLibrary issued/year/description overrides.
    * Expected input: id, type_raw, review_state, title, text, summary,
    * taxonomy_technical_library_categorization array<struct<title>>,
    * file struct<size>, version, publication_date, creation_date, created,
    * description.
    */
  def normalizeCopernicusLand(docs: DataFrame): DataFrame = {
    val common = NormOps.commonNormalizer(
      docs.withColumn("object_provides_scalar", col("type_raw")),
      NormConfig(
        typeCol = "type_raw",
        workflowStateCol = Some("review_state"),
        joinText = Some(JoinTextConfig("text", "title", Seq("summary"))),
        normObj = Map("Document" -> "Webpage", "Page" -> "Webpage",
          "File" -> "File", "TechnicalLibrary" -> "Technical library"),
        normObjCols = Some(Seq("object_provides_scalar")),
        descriptionCol = Some("description")))
    // get_library_categories_values (:29-31): taxonomy titles, '#' leaf
    val values = transform(
      vocabList(col("taxonomy_technical_library_categorization")),
      t => try_element_at(split(t, "#"), lit(-1)))
    // get_library_categories_facet (:33-35): '»' group prefix, first-dedup
    val facet = array_distinct(transform(values,
      v => zsTrim(try_element_at(split(v, "»"), lit(1)))))
    val isTechLib = col("type_raw") === "TechnicalLibrary"
    val techDate = coalesce( // :66-69
      col("publication_date"), col("creation_date"), col("created"))
    NormOps.addCounts(
      common
        .withColumn("cluster_name", lit("copernicus_land")) // :57
        .withColumn("library_categories_facet", facet)
        .withColumn("library_categories_values", values)
        .withColumn("file_size", coalesce(col("file.size"), lit(0L))) // :35-41
        .withColumn("version", coalesce(col("version"), lit(""))) // :44
        .withColumn("issued", when(isTechLib, techDate))
        .withColumn("year", when(isTechLib, techDate))
        .withColumn("description",
          when(isTechLib, coalesce(col("description"), lit("")))
            .otherwise(col("description")))
        .withColumn("object_provides", array(col("object_provides_scalar")))
        .drop("object_provides_scalar"),
      listCols = Seq("object_provides", "library_categories_values"),
      scalarCols = Seq("cluster_name"))
  }

  // =============================================== site: copernicus_insitu

  /** `normalize_copernicus_insitu` (site_copernicus_insitu.py:33-68):
    * five taxonomy vocab fan-outs + the preview-image download path.
    */
  def normalizeCopernicusInsitu(docs: DataFrame): DataFrame = {
    val common = NormOps.commonNormalizer(
      docs.withColumn("object_provides_scalar", col("type_raw")),
      NormConfig(
        typeCol = "type_raw",
        workflowStateCol = Some("review_state"),
        joinText = Some(JoinTextConfig("text", "title", Seq("summary"))),
        normObj = Map("Document" -> "Webpage", "Page" -> "Webpage",
          "File" -> "File", "News Item" -> "News"),
        normObjCols = Some(Seq("object_provides_scalar")),
        descriptionCol = Some("description")))
    NormOps.addCounts(
      common
        .withColumn("cluster_name", lit("copernicus_insitu")) // :44
        .withColumn("taxonomy_report_category",
          vocabList(col("taxonomy_report_category")))
        .withColumn("taxonomy_copernicus_components",
          vocabList(col("taxonomy_copernicus_components")))
        .withColumn("taxonomy_copernicus_themes",
          vocabList(col("taxonomy_copernicus_themes")))
        .withColumn("data_providers_list", vocabList(col("data_providers_list")))
        .withColumn("copernicus_services", vocabList(col("copernicus_services")))
        .withColumn("insitu_preview_image", // :62-64
          col("preview_image.scales.preview.download"))
        .withColumn("object_provides", array(col("object_provides_scalar")))
        .drop("object_provides_scalar"),
      listCols = Seq("object_provides", "copernicus_services"),
      scalarCols = Seq("cluster_name"))
  }

  // -------------------------------------------------------------- registry

  /** Context the sdi-family normalizers need beyond the docs themselves:
    * the full_config.obligations rod-link → label map (site_sdi.py:272),
    * the pinned current year for open temporal ranges (:131), the pinned
    * obsolete `expires` stamp (:326 uses today−2d; pass a fixed date for
    * deterministic output), and the theme taxonomy (:236-239).
    */
  final case class SiteContext(
      obligations: Map[String, String] = Map.empty,
      currentYear: Int = 2026,
      archivedExpires: String = "2026-08-10",
      themeTaxonomy: Map[String, String] = Map.empty)

  /** Registry twin of normalizers/registry.py:1-11 — the
    * `register_facets_normalizer` name → normalizer map, one entry per
    * name the reference registers (21 across the normalizers/sites files).
    * "land_demo" (site_copernicus_demo_land.py:47) is the same function as
    * "land" under a second name, exactly like the reference; "default"
    * (site_default.py:7-9) returns None for every doc, i.e. drops all
    * rows; "fise" is the forest site and "fise_resource" the fise one —
    * the reference's own naming crossover, preserved.
    */
  def registry(ctx: SiteContext = SiteContext())
      : Map[String, DataFrame => DataFrame] = Map(
    "bise" -> ((d: DataFrame) => normalizeBise(d)),
    "cab" -> ((d: DataFrame) => normalizeCab(d)),
    "climate" -> ((d: DataFrame) => normalizeClimate(d)),
    "default" -> ((d: DataFrame) => d.limit(0)),
    "discomap" -> ((d: DataFrame) => normalizeDiscomap(d)),
    "eea" -> ((d: DataFrame) => normalizeEea(d)),
    "eea_en" -> ((d: DataFrame) => normalizeEeaEn(d)),
    "eionet" -> ((d: DataFrame) => normalizeEionet(d)),
    "energy" -> ((d: DataFrame) => normalizeEnergy(d)),
    "fise" -> ((d: DataFrame) => normalizeForest(d)),
    "fise_resource" -> ((d: DataFrame) => normalizeFiseResource(d)),
    "ias" -> ((d: DataFrame) => normalizeIas(d)),
    "industry" -> ((d: DataFrame) => normalizeIndustry(d)),
    "insitu" -> ((d: DataFrame) => normalizeCopernicusInsitu(d)),
    "land" -> ((d: DataFrame) => normalizeCopernicusLand(d)),
    "land_demo" -> ((d: DataFrame) => normalizeCopernicusLand(d)),
    "noise" -> ((d: DataFrame) => normalizeNoise(d)),
    "sdi" -> ((d: DataFrame) => normalizeSdi(d, ctx.obligations,
      ctx.currentYear, ctx.archivedExpires, ctx.themeTaxonomy)),
    "sdi_fise" -> ((d: DataFrame) => normalizeSdiFise(d, ctx.obligations,
      ctx.currentYear, ctx.archivedExpires)),
    "wise_freshwater" -> ((d: DataFrame) => normalizeWiseFreshwater(d)),
    "wise_marine" -> ((d: DataFrame) => normalizeWiseMarine(d)))

  /** `get_facets_normalizer` (registry.py:26-27): unknown site ids fall
    * back to the "eea" normalizer.
    */
  def normalizerFor(siteId: String, ctx: SiteContext = SiteContext())
      : DataFrame => DataFrame = {
    val r = registry(ctx)
    r.getOrElse(siteId, r("eea"))
  }

  /** Registry twin of the SECOND reference registry —
    * `register_nlp_preprocessor` (registry.py:14-21), one entry per name
    * the normalizers/sites files register (20: the facets list minus
    * "eea_en", whose file registers its preprocessor under "eea",
    * site_eea_europa_eu_en.py:72, so eea_en docs resolve through the
    * fallback exactly as the reference does). Every registered body is
    * `common_preprocess` ([[NormOps.nlpPreprocess]]) with the site's
    * nlp_preprocessing props, except the sdi pair (site_sdi.py /
    * site_sdi_fise.py), which run `pre_normalize_sdi` on the RAW record
    * first; "default" (site_default.py:12-14) returns None for every
    * doc, i.e. drops all rows. Like the reference's composition
    * (normalizer.py:70-76), these expect the RAW frame — [[prepareDocs]]
    * applies the common body after the facets normalizer instead, which
    * is equivalent because the html/pdf/title columns it reads flow
    * through the normalizers untouched.
    */
  def nlpRegistry(ctx: SiteContext = SiteContext(),
      txtProps: Seq[String] = Nil, txtPropsBlack: Seq[String] = Nil,
      removeSelectors: Seq[String] = Nil)
      : Map[String, DataFrame => DataFrame] = {
    val common = (d: DataFrame) => NormOps.nlpPreprocess(d,
      txtProps = txtProps, txtPropsBlack = txtPropsBlack,
      removeSelectors = removeSelectors)
    def sdiThenCommon(fise: Boolean) = (d: DataFrame) =>
      common(preNormalizeSdi(d, ctx.obligations, ctx.currentYear,
        fiseIssuedChain = fise))
    Map(
      "bise" -> common,
      "cab" -> common,
      "climate" -> common,
      "default" -> ((d: DataFrame) => d.limit(0)),
      "discomap" -> common,
      "eea" -> common,
      "eionet" -> common,
      "energy" -> common,
      "fise" -> common,
      "fise_resource" -> common,
      "ias" -> common,
      "industry" -> common,
      "insitu" -> common,
      "land" -> common,
      "land_demo" -> common,
      "noise" -> common,
      "sdi" -> sdiThenCommon(fise = false),
      "sdi_fise" -> sdiThenCommon(fise = true),
      "wise_freshwater" -> common,
      "wise_marine" -> common)
  }

  /** `get_nlp_preprocessor` (registry.py:30): unknown site ids — eea_en
    * included — fall back to the "eea" preprocessor.
    */
  def nlpPreprocessorFor(siteId: String, ctx: SiteContext = SiteContext(),
      txtProps: Seq[String] = Nil, txtPropsBlack: Seq[String] = Nil,
      removeSelectors: Seq[String] = Nil): DataFrame => DataFrame = {
    val r = nlpRegistry(ctx, txtProps, txtPropsBlack, removeSelectors)
    r.getOrElse(siteId, r("eea"))
  }

  /** The whole-portfolio run: one input frame per site (raw schemas
    * genuinely differ per site, exactly as each reference DAG reads its
    * own crawl), each through its registered normalizer, unioned by name
    * into the one indexable corpus — the relational form of the
    * reference's N parallel site DAGs all writing to the same index.
    * Missing columns null-fill (sites emit different facet sets); a
    * `site_id` column records provenance. Each branch stays a narrow
    * per-site pipeline — the union adds no shuffle, and at 100 TB each
    * site's branch scans only its own files.
    */
  def normalizePortfolio(docsBySite: Seq[(String, DataFrame)],
      ctx: SiteContext = SiteContext()): DataFrame = {
    require(docsBySite.nonEmpty,
      "normalizePortfolio needs at least one (site, docs) pair")
    docsBySite
      .map { case (site, d) =>
        normalizerFor(site, ctx)(d).withColumn("site_id", lit(site))
      }
      .reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Config-as-data end to end: run the portfolio for one APP of a parsed
    * variables.json-shaped document ([[graft.config.AirflowVariables]]) —
    * the sites come from `app_<name>.Sites` in document order, the
    * SiteContext's obligations/theme taxonomy from the document's global
    * lookups, exactly what get_all_variables hands each reference DAG.
    * `docsBySite` supplies the raw frame per site id; registry names
    * absent from it are skipped (a site with no crawl this run).
    */
  def portfolioFromVariables(v: graft.config.AirflowVariables.Variables,
      app: String, docsBySite: Map[String, DataFrame],
      currentYear: Int = 2026,
      archivedExpires: String = "2026-08-10"): DataFrame = {
    val ctx = SiteContext(
      obligations = v.obligations,
      currentYear = currentYear,
      archivedExpires = archivedExpires,
      themeTaxonomy = v.themeTaxonomy)
    val pairs = v.sites(app).collect {
      case (siteId, _) if docsBySite.contains(siteId) =>
        siteId -> docsBySite(siteId)
    }
    normalizePortfolio(pairs, ctx)
  }

  /** The whole prepare-docs-for-searchui pass for one site
    * (normalizer.py:18-32 admission + :40-112 preprocess_doc): drop docs
    * that errored AND are already in the search index (a failed re-crawl
    * must not clobber a good indexed copy; a doc that never made it in
    * gets indexed errors-and-all), run the site's registered facets
    * normalizer, attach `fulltext` from the NLP preprocessor
    * ([[NormOps.nlpPreprocess]] — the raw html/pdf columns flow through
    * the normalizer untouched), and stamp `site_id`. `searchuiIds` is the
    * (id)-schema current index listing — corpus-sized, so the admission
    * join is a plain shuffle equi-join, not a broadcast.
    */
  def prepareDocs(raw: DataFrame, searchuiIds: DataFrame, siteId: String,
      ctx: SiteContext = SiteContext(),
      nlpTxtProps: Seq[String] = Nil,
      nlpTxtPropsBlack: Seq[String] = Nil): DataFrame = {
    val admitted = raw
      // distinct: the reference keys the index listing by id (a dict), so
      // a duplicate id in the listing must not fan out admitted rows
      .join(searchuiIds.select(col("id").as("__searchui_id")).distinct(),
        col("id") === col("__searchui_id"), "left")
      // a NULL errors column means "no errors recorded", not errored —
      // size(NULL) is not 0 under ANSI semantics, hence the coalesce
      .filter(coalesce(size(col("errors")), lit(0)) === 0 ||
        col("__searchui_id").isNull)
      .drop("__searchui_id")
    val normalized = normalizerFor(siteId, ctx)(admitted)
    // the joinText sites already carry a `fulltext` column; the reference
    // OVERWRITES doc["fulltext"] with the preprocessor text (:77), so the
    // old column must go before the rename or the name becomes ambiguous
    val pre = NormOps.nlpPreprocess(normalized,
      txtProps = nlpTxtProps, txtPropsBlack = nlpTxtPropsBlack)
    pre.drop("fulltext")
      .withColumnRenamed("nlp_text", "fulltext")
      .withColumn("site_id", lit(siteId))
  }

  // ---------------------------------------------------- queries() wrapper

  /** queries() entry: the bise site pipeline end-to-end over synthesized
    * document columns — admission whitelist, workflow state, fulltext
    * assembly, normObj content types, location-rule re-resolution
    * (exact + glob, last-match-wins), factsheet spatial + Dashboard
    * pairing, description fallback, add_counts. Array outputs join to
    * `|`-strings so the DuckDB oracle compares scalars.
    */
  def qSiteBise(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val docs = graft.Tables.documents(s, d).select(
      id,
      concat(lit("https://biodiversity.europa.eu"),
        when(id % 5 === 0, lit("/protected-areas"))
          .when(id % 5 === 1, concat(lit("/threats/t"), id))
          .when(id % 5 === 2, concat(lit("/countries/c"), id))
          .when(id % 5 === 3, concat(lit("/ecosystems/e"), id))
          .otherwise(concat(lit("/other/o"), id))).as("id"),
      when(id % 4 === 0, lit("Page"))
        .when(id % 4 === 1, lit("Document"))
        .when(id % 4 === 2, lit("bise_factsheet"))
        .otherwise(lit("Collection")).as("type_raw"),
      when(id % 7 === 0, lit(null).cast("string"))
        .otherwise(lit("published")).as("review_state"),
      concat(lit("Title "), id).as("title"),
      lit(null).cast("array<string>").as("spatial"),
      col("text"),
      when(id % 3 === 0, lit(""))
        .otherwise(concat(lit("<p>Summary "), id, lit("</p>"))).as("summary"))
    normalizeBise(docs)
      .select(
        col("doc_id"),
        array_join(col("object_provides"), "|").as("object_provides"),
        array_join(col("spatial"), "|").as("spatial"),
        col("workflow_state"), col("cluster_name"), col("description"),
        col("items_count_object_provides"))
      .orderBy("doc_id")
  }

  /** The qSiteSdi synthesized SDI-elastic record set over ANY frame with
    * a `doc_id` column, so a replicated base feeds the same record shape
    * the oracle checks. The qSiteSdi query runs the sdi site pipeline
    * end-to-end over these records —
    * field mapping, topic renames + theme taxonomy, temporal-range years,
    * the sdi-chain issued fallback (no creationDateForResource step),
    * obsolete expiry, last_modified from children changeDates, spatial
    * Kosovo map, counts; arrays scalarize to `|`-strings for the hash
    * compare.
    */
  def sdiSyntheticDocs(base: DataFrame): DataFrame = {
    val id = col("doc_id")
    val rangeType =
      "array<struct<start:struct<date:string>,end:struct<date:string>>>"
    val childType = "array<struct<format:array<string>,changeDate:string>>"
    base.select(
      id,
      concat(lit("md-"), id).as("metadataIdentifier"),
      lit(null).cast("string").as("issued"),
      when(id % 4 === 0, array(lit("2019-04-04"))).as("publicationDateForResource"),
      when(id % 4 === 2, array(lit("2017-07-07"))).as("creationDateForResource"),
      when(id % 4 === 1, lit("2010-09-09")).as("createDate"),
      array(struct(lit("http://o/1").as("url"))).as("overview"),
      array(struct(lit("Obligation 1").as("default"),
        lit("http://rod/1").as("link"))).as("th_rod-eionet-europa-eu"),
      array(struct(lit("Climate mitigation").as("default")),
        struct(lit("Water").as("default"))).as("th_eea-topics"),
      array(lit("concepts^environment^water pollution")).as("th_gemet_tree.default"),
      array(struct(lit("vector").as("default"))).as("cl_spatialRepresentationType"),
      when(id % 2 === 0,
        array(struct(lit("Kosovo (UNSCR 1244/99)").as("default")),
          struct(lit("Italy").as("default"))))
        .otherwise(array(struct(lit("Spain").as("default")))).as("th_regions"),
      when(id % 3 === 0, array(
          struct(struct(lit("2011-02-01").as("date")).as("start"),
            struct(lit("2013-06-01").as("date")).as("end")),
          struct(struct(lit("2015-01-01").as("date")).as("start"),
            struct(lit(null).cast("string").as("date")).as("end"))))
        .when(id % 3 === 1, array(
          struct(struct(lit("2012-05-05").as("date")).as("start"),
            struct(lit("2012-07-07").as("date")).as("end"))))
        .otherwise(array().cast(rangeType))
        .as("resourceTemporalExtentDetails"),
      when(id % 2 === 0, array(
          struct(array(lit("SHP")).as("format"), lit("2020-01-01").as("changeDate")),
          struct(array(lit("CSV")).as("format"),
            lit(null).cast("string").as("changeDate"))))
        .otherwise(array().cast(childType)).as("children"),
      array(struct(concat(lit("DAT-"), id).as("code"))).as("resourceIdentifier"),
      concat(lit("Map "), id).as("resourceTitleObject.default"),
      concat(lit("Abstract "), id).as("resourceAbstractObject.default"),
      when(id % 5 === 0, array(struct(lit("obsolete").as("key")))).as("cl_status"),
      when(id % 7 === 0, lit("2021-05-05")).as("changeDate"),
      lit("eng").as("mainLanguage"),
      array(struct(lit("EEA Org").as("default"))).as("OrgForResourceObject"))
  }

  def qSiteSdi(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    normalizeSdi(sdiSyntheticDocs(graft.Tables.documents(s, d)),
        obligations = Map("http://rod/1" -> "Reporting obligation 1"),
        currentYear = 2016, archivedExpires = "2026-08-10",
        themeTaxonomy = Map("Water" -> "water"))
      .select(
        substring(col("id"), 4, 20).cast("long").as("doc_id"),
        col("title"),
        col("description"),
        col("hasWorkflowState"),
        col("cluster_name"),
        col("issued"),
        array_join(col("spatial"), "|").as("spatial"),
        array_join(col("topic"), "|").as("topic"),
        array_join(col("time_coverage"), "|").as("time_coverage"),
        col("expires"),
        col("last_modified"),
        col("items_count_spatial"))
      .orderBy("doc_id")

  /** queries() entry: the noise site pipeline end-to-end — <title> scrape
    * (every fourth page has none → the join-text "no title" fallback, and
    * removeEmpty nulls the output title), forced Page/published, fulltext
    * assembly, the constant objectProvides/topic/issued stamps, counts.
    */
  def qSiteNoise(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val docs = graft.Tables.documents(s, d).select(
      id,
      col("text"),
      when(id % 3 === 0, lit(""))
        .otherwise(concat(lit("<p>Summary "), id, lit("</p>"))).as("summary"),
      when(id % 4 === 0, lit("<html><body>untitled page</body></html>"))
        .otherwise(concat(lit("<html><head><title> Noise map "), id,
          lit(" </title></head><body>x</body></html>"))).as("web_html"))
    normalizeNoise(docs)
      .select(
        col("doc_id"),
        array_join(col("object_provides"), "|").as("object_provides"),
        array_join(col("topic"), "|").as("topic"),
        col("workflow_state"), col("cluster_name"), col("title"),
        col("issued"), col("description"),
        col("items_count_object_provides"), col("items_count_topic"))
      .orderBy("doc_id")
  }

  /** queries() entry: the eea_en site pipeline end-to-end — sandbox-path
    * drop, null-type/Plone-Site drops, normObj content types, the
    * visualization-Indicator title rule, File workflow backfill + issued
    * from creation_date, the attr-mapping content-type append
    * (case-insensitive subjects), taxonomy vocab fan-out, description
    * fallback, counts. Arrays scalarize to `|`-strings.
    */
  def qSiteEeaEn(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val docs = graft.Tables.documents(s, d).select(
      id,
      concat(lit("https://www.eea.europa.eu/en"),
        when(id % 5 === 0, concat(lit("/sandbox/p"), id))
          .otherwise(concat(lit("/analysis/d"), id))).as("id"),
      when(id % 6 === 0, lit("Document"))
        .when(id % 6 === 1, lit("File"))
        .when(id % 6 === 2, lit("visualization"))
        .when(id % 6 === 3, lit("Page"))
        .when(id % 6 === 4, lit(null).cast("string"))
        .otherwise(lit("Plone Site")).as("type_raw"),
      // %4 gates cut across the %6 type cycle: some Files have a missing
      // review state (backfill fires), some don't; some visualizations
      // carry an Indicator title, some don't
      when(id % 4 === 1, lit(null).cast("string"))
        .otherwise(lit("published")).as("review_state"),
      when(id % 4 === 2, concat(lit("Indicator: T"), id))
        .otherwise(concat(lit("Title "), id)).as("title"),
      col("text"),
      lit("summary").as("summary"),
      lit(null).cast("string").as("description"),
      lit("2020-01-01").as("creation_date"),
      array(struct(lit("Air pollution").as("title"))).as("topics"),
      array(struct(lit("Pressure").as("title"))).as("taxonomy_dpsir"),
      array(struct(lit("Indicator typology").as("title"))).as("taxonomy_typology"),
      array(struct(lit("SDG 13").as("title"))).as("taxonomy_un_sdgs"),
      when(id % 4 === 0, array(lit("Environment"), lit("Country Fact Sheet")))
        .otherwise(array(lit("Environment"))).as("subjects"))
    normalizeEeaEn(docs)
      .select(
        col("doc_id"),
        array_join(col("object_provides"), "|").as("object_provides"),
        col("workflow_state"), col("issued"),
        array_join(col("topic"), "|").as("topic"),
        array_join(col("dpsir"), "|").as("dpsir"),
        array_join(col("un_sdgs"), "|").as("un_sdgs"),
        col("cluster_name"), col("description"),
        col("items_count_object_provides"), col("items_count_topic"))
      .orderBy("doc_id")
  }

  /** queries() entry: the climate site pipeline end-to-end — whitelist
    * admission, the '/mission/' path flag override, issued chain
    * (issued ?? cca_published ?? publication_date), cca_* vocab fan-out
    * (title vs token fields), spatial Other-drop + country append,
    * funding programme struct, geographic sub-lists, search/observatory/
    * mission flags, the mission_funding_cca-gated Yes/No block,
    * normMissing fills, description fallback, counts.
    */
  def qSiteClimate(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val docs = graft.Tables.documents(s, d).select(
      id,
      concat(lit("https://climate-adapt.eea.europa.eu/en"),
        when(id % 5 === 0, concat(lit("/knowledge/p"), id))
          .when(id % 5 === 1, concat(lit("/mission/stories/"), id))
          .when(id % 5 === 2, concat(lit("/funding/"), id))
          .when(id % 5 === 3, concat(lit("/news/"), id))
          .otherwise(concat(lit("/other/"), id))).as("id"),
      when(id % 5 === 0, lit("Document"))
        .when(id % 5 === 1, lit("eea.climateadapt.casestudy"))
        .when(id % 5 === 2, lit("mission_funding_cca"))
        .when(id % 5 === 3, lit("Event"))
        .otherwise(lit("Collection")).as("type_raw"),
      lit("published").as("review_state"),
      (id % 5 === 1).as("include_in_observatory"),
      lit(false).as("include_in_mission"),
      lit("2019-05-01").as("publication_date"),
      concat(lit("uid-"), id).as("uid"),
      lit("2018-01-01T00:00:00").as("created"),
      when(id % 5 === 0, lit("2020-02-02")).as("cca_published"),
      when(id % 5 === 3, lit("2017-03-03")).as("issued"),
      array(lit("k1"), lit("k2"), lit("k1")).as("keywords"),
      array(struct(lit("Agriculture").as("title")),
        struct(lit("Energy").as("title"))).as("sectors"),
      array(struct(lit("Flooding").as("title"))).as("climate_impacts"),
      array(struct(lit("Observations").as("title"))).as("elements"),
      array(struct(lit("climate-adapt").as("title"))).as("origin_website"),
      when(id % 5 === 0, array(struct(lit("Italy").as("title")))).as("country"),
      array(struct(lit("Drought").as("title"))).as("climate_threats"),
      array(struct(lit("Coastal").as("title"))).as("key_system"),
      array(struct(lit("heat-stress").as("token"),
        lit("Heat stress").as("title"))).as("health_impacts"),
      array(struct(lit("ktm1").as("token"),
        lit("KTM One").as("title"))).as("key_type_measures"),
      struct(lit("LIFE").as("title")).as("funding_programme"),
      struct(array(lit("IT"), lit("FR")).as("countries"),
        array(lit("Alpine")).as("transnational_region")).as("geographic"),
      struct(struct(struct(
        concat(lit("http://img/"), id, lit(".png")).as("download"))
        .as("preview")).as("scales")).as("preview_image"),
      when(id % 5 === 2, lit(true)).as("is_eu_funded"),
      when(id % 5 === 2, lit(false)).as("is_blended"),
      when(id % 5 === 2, lit("50%")).as("funding_rate"),
      when(id % 5 === 0, array(lit("Other")))
        .when(id % 5 === 1, array(lit("Spain")))
        .otherwise(lit(null).cast("array<string>")).as("spatial"),
      col("text"),
      concat(lit("Title "), id).as("title"),
      lit("summary text").as("summary"),
      lit(null).cast("string").as("description"))
    normalizeClimate(docs)
      .select(
        col("doc_id"),
        col("object_provides_scalar"),
        col("issued"),
        array_join(col("spatial"), "|").as("spatial"),
        array_join(col("cca_adaptation_sectors"), "|").as("cca_adaptation_sectors"),
        array_join(col("cca_health_impacts"), "|").as("cca_health_impacts"),
        array_join(col("cca_key_type_measure"), "|").as("cca_key_type_measure"),
        col("cca_funding_programme"),
        array_join(col("cca_geographic_countries"), "|").as("cca_geographic_countries"),
        col("cca_preview_image"),
        array_join(col("cca_keywords"), "|").as("cca_keywords"),
        col("cca_include_in_search"), col("cca_include_in_mission"),
        col("cca_include_in_search_observatory"),
        col("cca_is_eu_funded"), col("cca_is_blended"), col("cca_funding_rate"),
        col("language"), col("creation_date"), col("creator"),
        col("workflow_state"), col("cluster_name"), col("description"),
        col("items_count_cca_keywords"), col("items_count_spatial"))
      .orderBy("doc_id")
  }

  /** The synthetic SDI-elastic record set the fise queries() entry runs
    * over — one wide record per base doc_id, exercising every
    * pre-normalize branch (date fallback chains, obsolete statuses, the
    * frequency map, temporal ranges, children). Factored out of
    * [[qSiteSdiFise]] so a replicated base can feed through the IDENTICAL
    * record shape.
    */
  def sdiFiseSyntheticDocs(base: DataFrame): DataFrame = {
    val id = col("doc_id")
    val rangeType =
      "array<struct<start:struct<date:string>,end:struct<date:string>>>"
    val childType = "array<struct<format:array<string>,changeDate:string>>"
    base.select(
      id,
      concat(lit("md-"), id).as("metadataIdentifier"),
      lit(null).cast("string").as("issued"),
      when(id % 4 === 0, array(lit("2019-04-04"))).as("publicationDateForResource"),
      when(id % 4 === 2, array(lit("2017-07-07"))).as("creationDateForResource"),
      when(id % 4 === 1, lit("2010-09-09")).as("createDate"),
      array(struct(lit("http://o/1").as("url"))).as("overview"),
      array(struct(lit("Obligation 1").as("default"),
          lit("http://rod/1").as("link")),
        struct(lit("Obligation 2").as("default"),
          lit("http://rod/unmapped").as("link"))).as("th_rod-eionet-europa-eu"),
      array(struct(lit("Climate mitigation").as("default"))).as("th_eea-topics"),
      array(lit("concepts^environment^water pollution")).as("th_gemet_tree.default"),
      array(struct(lit("vector").as("default"))).as("cl_spatialRepresentationType"),
      when(id % 2 === 0,
        array(struct(lit("Kosovo (UNSCR 1244/99)").as("default")),
          struct(lit("Italy").as("default"))))
        .otherwise(array(struct(lit("Spain").as("default")))).as("th_regions"),
      when(id % 3 === 0, array(
          struct(struct(lit("2011-02-01").as("date")).as("start"),
            struct(lit("2013-06-01").as("date")).as("end")),
          struct(struct(lit("2015-01-01").as("date")).as("start"),
            struct(lit(null).cast("string").as("date")).as("end"))))
        .when(id % 3 === 1, array(
          struct(struct(lit("2012-05-05").as("date")).as("start"),
            struct(lit("2012-07-07").as("date")).as("end"))))
        .otherwise(array().cast(rangeType))
        .as("resourceTemporalExtentDetails"),
      when(id % 2 === 0, array(
          struct(array(lit("SHP")).as("format"), lit("2020-01-01").as("changeDate"))))
        .otherwise(array().cast(childType)).as("children"),
      array(struct(concat(lit("DAT-"), id).as("code")),
        struct(concat(lit("XYZ-"), id).as("code"))).as("resourceIdentifier"),
      concat(lit("Map "), id).as("resourceTitleObject.default"),
      concat(lit("Abstract "), id).as("resourceAbstractObject.default"),
      when(id % 5 === 0, array(struct(lit("superseded").as("key")))).as("cl_status"),
      when(id % 7 === 0, lit("2021-05-05")).as("changeDate"),
      lit("2019-01-01").as("dateStamp"),
      element_at(array(lit("ita"), lit("eng"), lit("ger"), lit("xxx")),
        (id % 4 + 1).cast("int")).as("mainLanguage"),
      array(struct(lit("EEA Org").as("default"))).as("OrgForResourceObject"),
      when(id % 4 === 0, lit("2001")).as("publicationYearForResource"),
      when(id % 4 === 1, lit("1999")).as("creationYearForResource"),
      when(id % 4 === 2, array(lit("1990"), lit("1995")))
        .as("revisionYearForResource"),
      when(id % 5 === 0, array(struct(lit(" asNeeded ").as("key"))))
        .when(id % 5 === 1, array(struct(lit("weird").as("key"))))
        .when(id % 5 === 2, lit(null).cast("array<struct<key:string>>"))
        .otherwise(array(struct(lit("monthly").as("key"))))
        .as("cl_maintenanceAndUpdateFrequency"),
      when(id % 2 === 0, array(struct(
          struct(concat(lit("Org "), id).as("default")).as("organisationObject"),
          concat(lit("mail"), id, lit("@x.eu")).as("email"))))
        .otherwise(lit(null)
          .cast("array<struct<organisationObject:struct<default:string>,email:string>>"))
        .as("contact"),
      when(id % 4 === 0, array(lit("dataset")))
        .when(id % 4 === 1, array(lit("service")))
        .when(id % 4 === 2, array(lit("nonGeographicDataset")))
        .otherwise(array(lit("other"))).as("resourceType"),
      array(struct(lit("Environment").as("default")),
        struct(lit("Water").as("default"))).as("cl_topic"))
  }

  /** queries() entry: the sdi_fise site pipeline end-to-end — the richest
    * SDI field mapping: FISE issued chain (WITH the
    * creationDateForResource middle step — the delta vs site_sdi),
    * publicationYear int fallback with the 2500 default, maintenance-
    * frequency key→label (trimmed keys, unknown pass-through, missing →
    * Unknown), first-contact organisation name/email, language-code →
    * country/language names, the catalogue-record about URL, resourceType
    * → SDI object_provides, obsolete/superseded expiry, last_modified =
    * changeDate ?? dateStamp, created/date_publication firsts, cl_topic
    * topics, rod-link obligations, DAT-prefixed prod ids, spatial Kosovo
    * map, counts. Arrays scalarize to `|`-strings.
    */
  def qSiteSdiFise(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val docs = sdiFiseSyntheticDocs(graft.Tables.documents(s, d))
    normalizeSdiFise(docs,
        obligations = Map("http://rod/1" -> "Reporting obligation 1"),
        currentYear = 2016, archivedExpires = "2026-08-10")
      .select(
        substring(col("id"), 4, 20).cast("long").as("doc_id"),
        col("title"), col("description"),
        col("hasWorkflowState"), col("cluster_name"),
        col("issued"),
        col("publicationYear"),
        col("update_frequency_value"),
        col("organisation_name"), col("organisation_email"),
        array_join(col("country"), "|").as("country"),
        array_join(col("language"), "|").as("language"),
        col("about"),
        array_join(col("object_provides"), "|").as("object_provides"),
        array_join(col("spatial"), "|").as("spatial"),
        array_join(col("topic"), "|").as("topic"),
        array_join(col("time_coverage"), "|").as("time_coverage"),
        array_join(col("instrument"), "|").as("instrument"),
        array_join(col("prod_id"), "|").as("prod_id"),
        col("expires"), col("last_modified"),
        col("created"), col("date_publication"),
        col("items_count_spatial"), col("items_count_topic"))
      .orderBy("doc_id")
  }

  /** queries() entry: the wise_marine site pipeline end-to-end — location
    * rules (last-match-wins incl. the state-of-europe-seas glob), the
    * factsheet spatial=title rule, the Data-set/Webpage pruning, the
    * Shipping-and-Ports-Measure block (exclude flag, issued backfill,
    * wm_spm_* fan-out), vocab flattening, and the Indicator description
    * override. Whitelist/rules are extended like the reference's
    * variables.json config (the lists are config data).
    */
  def qSiteWiseMarine(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val docs = graft.Tables.documents(s, d).select(
      id,
      concat(lit("https://water.europa.eu"),
        when(id % 7 === 0, concat(lit("/marine/policy-and-reporting/reports/r"), id))
          .when(id % 7 === 1,
            concat(lit("/marine/countries-and-regional-seas/country-profiles/c"), id))
          .when(id % 7 === 2, concat(lit("/marine/measures/m"), id))
          .when(id % 7 === 3, concat(lit("/marine/state-of-europe-seas/s"), id))
          .when(id % 7 === 4, concat(lit("/marine/datasets/d"), id))
          .when(id % 7 === 5, concat(lit("/marine/indicators/i"), id))
          .otherwise(concat(lit("/marine/x"), id))).as("id"),
      when(id % 7 === 0, lit("Document"))
        .when(id % 7 === 1, lit("country_factsheet"))
        .when(id % 7 === 2, lit("measure"))
        .when(id % 7 === 3, lit("Page"))
        .when(id % 7 === 4, lit("Document"))
        .when(id % 7 === 5, lit("Page"))
        .otherwise(lit("Folder")).as("type_raw"),
      lit("published").as("review_state"),
      when(id % 7 === 1, concat(lit("Country "), id))
        .otherwise(concat(lit("Title "), id)).as("title"),
      array(lit("Baltic")).as("spatial"),
      lit(null).cast("string").as("issued"),
      col("text"),
      lit("summary text").as("summary"),
      array(lit("marine"), lit("water")).as("theme"),
      array(struct(lit("Pressure").as("title"))).as("dpsir_type"),
      array(struct(lit("MSFD").as("title"))).as("legislative_reference"),
      concat(lit("S"), id).as("sector"),
      concat(lit("C"), id).as("code"))
    normalizeWiseMarine(docs,
        whitelist = wiseMarineWhitelist :+ "measure",
        locationRules = wiseMarineLocationRules ++ Seq(
          "/marine/datasets/*" -> Seq("Data set", "Webpage"),
          "/marine/indicators/*" -> Seq("Indicator")))
      .select(
        col("doc_id"),
        array_join(col("object_provides"), "|").as("object_provides"),
        array_join(col("spatial"), "|").as("spatial"),
        array_join(col("exclude_from_globalsearch"), "|")
          .as("exclude_from_globalsearch"),
        col("issued"),
        col("wm_spm_title"), col("wm_spm_sector"), col("wm_spm_code"),
        array_join(col("legislative_reference"), "|").as("legislative_reference"),
        array_join(col("wm_theme"), "|").as("wm_theme"),
        array_join(col("wm_dpsir_type"), "|").as("wm_dpsir_type"),
        col("description"),
        array_join(col("dpsir"), "|").as("dpsir"),
        col("workflow_state"), col("cluster_name"),
        col("items_count_object_provides"), col("items_count_wm_dpsir_type"))
      .orderBy("doc_id")
  }

  /** queries() entry: the energy site pipeline end-to-end — UNCONDITIONAL
    * location-rule resolution (every admitted doc, not just Webpages),
    * factsheet spatial from the title, the resource_type Data → Dashboard
    * override, and the /topics/…/intro → Topic page rule.
    */
  def qSiteEnergy(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val docs = graft.Tables.documents(s, d).select(
      id,
      when(id % 6 === 0, concat(lit("https://energy.ec/en/page/p"), id))
        .when(id % 6 === 1, concat(lit("https://energy.ec/countries/at"), id))
        .when(id % 6 === 2, concat(lit("https://energy.ec/x/v"), id))
        .when(id % 6 === 3, concat(lit("https://energy.ec/topics/t"), id, lit("/intro")))
        .otherwise(concat(lit("https://energy.ec/news/n"), id)).as("id"),
      when(id % 6 === 0, lit("Document"))
        .when(id % 6 === 1, lit("Page"))
        .when(id % 6 === 2, lit("visualization"))
        .when(id % 6 === 3, lit("Document"))
        .when(id % 6 === 4, lit("News Item"))
        .otherwise(lit("Collection")).as("type_raw"),
      lit("published").as("review_state"),
      concat(lit("Title "), id).as("title"),
      col("text"),
      lit("summary text").as("summary"),
      when(id % 6 === 2, struct(lit("Data").as("token")))
        .as("resource_type"))
    normalizeEnergy(docs)
      .select(
        col("doc_id"),
        array_join(col("object_provides"), "|").as("object_provides"),
        col("spatial"),
        col("workflow_state"), col("cluster_name"), col("description"),
        col("items_count_object_provides"))
      .orderBy("doc_id")
  }

  /** queries() entry: the eionet site pipeline end-to-end — per-ETC topic
    * terms by path segment, issued = publication_date ?? issued, the
    * etc_report → Report content type, cluster "etc".
    */
  def qSiteEionet(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val docs = graft.Tables.documents(s, d).select(
      id,
      concat(lit("https://www.eionet.europa.eu"),
        when(id % 6 === 0, concat(lit("/etcs/etc-bd/p"), id))
          .when(id % 6 === 1, concat(lit("/etcs/etc-cme/r"), id))
          .when(id % 6 === 2, concat(lit("/etcs/etc-unknown/f"), id))
          .when(id % 6 === 3, concat(lit("/other/p"), id))
          .otherwise(concat(lit("/etcs/etc-cca/n"), id))).as("id"),
      when(id % 6 === 0, lit("Document"))
        .when(id % 6 === 1, lit("etc_report"))
        .when(id % 6 === 2, lit("File"))
        .when(id % 6 === 3, lit("Page"))
        .when(id % 6 === 4, lit("News Item"))
        .otherwise(lit("Image")).as("type_raw"),
      lit("published").as("review_state"),
      concat(lit("Title "), id).as("title"),
      col("text"),
      lit("summary text").as("summary"),
      when(id % 6 === 0, lit("2022-02-02")).as("publication_date"),
      when(id % 6 === 1, lit("2021-01-01")).as("issued"))
    normalizeEionet(docs)
      .select(
        col("doc_id"),
        array_join(col("object_provides"), "|").as("object_provides"),
        array_join(col("topic"), "|").as("topic"),
        col("issued"),
        col("workflow_state"), col("cluster_name"), col("description"),
        col("items_count_object_provides"), col("items_count_topic"))
      .orderBy("doc_id")
  }

  /** queries() entry: the forest ("fise" registry name) site pipeline —
    * data-catalogue drop, factsheet spatial from the PARENT title (except
    * the Regions parent), location rules, the bare-/topics Topic-page
    * fallback with the EU27 places backfill, the EU-region factsheet →
    * Dashboard vs the Country-fact-sheet+Dashboard pair.
    */
  def qSiteForest(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val docs = graft.Tables.documents(s, d).select(
      id,
      concat(lit("https://forest.eea.europa.eu"),
        when(id % 8 === 0, lit("/topics"))
          .when(id % 8 === 1, concat(lit("/topics/forests/t"), id))
          .when(id % 8 === 2, concat(lit("/policy/p"), id))
          .when(id % 8 === 3, concat(lit("/countries/austria/c"), id))
          .when(id % 8 === 4,
            concat(lit("/countries/regions/european-union?d="), id))
          .when(id % 8 === 5, concat(lit("/news/n"), id))
          .when(id % 8 === 6, concat(lit("/resources/data-catalogue/x"), id))
          .otherwise(concat(lit("/other/o"), id))).as("id"),
      when(id % 8 === 3, lit("basic_data_factsheet"))
        .when(id % 8 === 4, lit("european_union_factsheet"))
        .when(id % 8 === 5, lit("News Item"))
        .when(id % 8 === 7, lit("Collection"))
        .when(id % 8 === 2, lit("Page"))
        .otherwise(lit("Document")).as("type_raw"),
      lit("published").as("review_state"),
      concat(lit("Title "), id).as("title"),
      lit(null).cast("array<string>").as("spatial"),
      when(id % 8 === 4, struct(lit("Regions").as("title")))
        .otherwise(struct(concat(lit("Parent "), id).as("title"))).as("parent"),
      col("text"),
      lit("summary text").as("summary"))
      .withColumn("about", col("id"))
    // rules WITHOUT the /topics/* entry (config data in the reference):
    // the lone-Webpage fallback then upgrades topics paths to Topic page
    // AND backfills places to EU27 — the branch the default rule shadows
    normalizeForest(docs, locationRules = Seq(
        "/policy/*" -> Seq("Webpage"),
        "/countries/regions/european-union" -> Seq("Dashboard")))
      .select(
        col("doc_id"),
        array_join(col("object_provides"), "|").as("object_provides"),
        array_join(col("spatial"), "|").as("spatial"),
        col("places"),
        col("workflow_state"), col("cluster_name"), col("description"),
        col("items_count_object_provides"))
      .orderBy("doc_id")
  }

  /** queries() entry: the discomap site pipeline — every doc a forced
    * published Page titled from its scraped html, the climatechange and
    * atlas URL families' topic constants and home-vs-map objectProvides,
    * issued from modified.
    */
  def qSiteDiscomap(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val docs = graft.Tables.documents(s, d).select(
      id,
      when(id % 5 === 0, lit("https://discomap.eea.europa.eu/climatechange"))
        .when(id % 5 === 1,
          concat(lit("https://discomap.eea.europa.eu/climatechange/?page=M"), id))
        .when(id % 5 === 2, lit("https://discomap.eea.europa.eu/atlas/?page=Home"))
        .when(id % 5 === 3,
          concat(lit("https://discomap.eea.europa.eu/atlas/?page=M"), id))
        .otherwise(concat(lit("https://other.example.eu/o"), id)).as("id"),
      col("text"),
      lit("summary text").as("summary"),
      concat(lit("<html><head><title>Disco "), id,
        lit("</title></head><body>x</body></html>")).as("web_html"),
      concat(lit("2024-01-0"), id % 9 + 1).as("modified"))
    normalizeDiscomap(docs)
      .select(
        col("doc_id"), col("title"), col("issued"),
        array_join(col("topic"), "|").as("topic"),
        array_join(col("object_provides"), "|").as("object_provides"),
        col("workflow_state"), col("cluster_name"), col("description"),
        col("items_count_object_provides"), col("items_count_topic"))
      .orderBy("doc_id")
  }

  /** queries() entry: the ias site pipeline — the simple-site shape plus
    * the european-statistics path override (Map-titled products are
    * Map (interactive), the rest Dashboards).
    */
  def qSiteIas(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val docs = graft.Tables.documents(s, d).select(
      id,
      concat(lit("https://ias.eea.europa.eu"),
        when(id % 5 <= 1, concat(lit("/products/european-statistics/s"), id))
          .when(id % 5 === 2, concat(lit("/other/p"), id))
          .when(id % 5 === 3, concat(lit("/news/n"), id))
          .otherwise(concat(lit("/x/"), id))).as("id"),
      when(id % 5 === 0, lit("Document"))
        .when(id % 5 === 1, lit("Page"))
        .when(id % 5 === 2, lit("Document"))
        .when(id % 5 === 3, lit("News Item"))
        .otherwise(lit("Collection")).as("type_raw"),
      lit("published").as("review_state"),
      when(id % 5 === 0, concat(lit("Map of s"), id))
        .otherwise(concat(lit("Title "), id)).as("title"),
      col("text"),
      lit("summary text").as("summary"))
    normalizeIas(docs)
      .select(
        col("doc_id"),
        array_join(col("object_provides"), "|").as("object_provides"),
        array_join(col("themes"), "|").as("themes"),
        col("workflow_state"), col("cluster_name"), col("description"),
        col("items_count_object_provides"))
      .orderBy("doc_id")
  }

  /** queries() entry: the industry and cab simple-site pipelines in one
    * result (same generic shape, opposite admission: industry whitelists
    * Document/Page while cab's EMPTY whitelist admits everything,
    * unmapped types passing through normObj).
    */
  def qSiteSimple(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val docs = graft.Tables.documents(s, d).select(
      id,
      concat(lit("https://site.eea.europa.eu/d/"), id).as("id"),
      when(id % 3 === 0, lit("Document"))
        .when(id % 3 === 1, lit("Page"))
        .otherwise(lit("Collection")).as("type_raw"),
      lit("published").as("review_state"),
      concat(lit("Title "), id).as("title"),
      col("text"),
      lit("summary text").as("summary"))
    val ind = normalizeIndustry(docs)
      .select(col("doc_id"),
        array_join(col("object_provides"), "|").as("object_provides"),
        array_join(col("themes"), "|").as("themes"),
        col("cluster_name"), col("workflow_state"),
        col("items_count_object_provides"))
    val cab = normalizeCab(docs)
      .select(col("doc_id"),
        array_join(col("object_provides"), "|").as("object_provides"),
        lit(null).cast("string").as("themes"),
        col("cluster_name"), col("workflow_state"),
        col("items_count_object_provides"))
    ind.unionByName(cab).orderBy("cluster_name", "doc_id")
  }

  /** queries() entry: the wise_freshwater site pipeline — country-profile
    * spatial=title, Webpage-only location-rule re-resolution, the
    * lone-Data-set → Webpage collapse, the Measure/Source/Case-study
    * exclude flag, bep code-prefix strip (BP/ES/PO), country →
    * wise_country move, and the Measure description from measure_summary
    * html.
    */
  def qSiteWiseFreshwater(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val docs = graft.Tables.documents(s, d).select(
      id,
      concat(lit("https://water.europa.eu"),
        when(id % 6 === 0, concat(lit("/freshwater/europe-freshwater/e"), id))
          .when(id % 6 === 1, concat(lit("/freshwater/countries/c"), id))
          .when(id % 6 === 2, concat(lit("/freshwater/measures/m"), id))
          .when(id % 6 === 3, concat(lit("/freshwater/data/d"), id))
          .when(id % 6 === 4, concat(lit("/freshwater/briefings/b"), id))
          .otherwise(concat(lit("/freshwater/x"), id))).as("id"),
      when(id % 6 === 0, lit("Document"))
        .when(id % 6 === 1, lit("country_profile"))
        .when(id % 6 === 2, lit("measure"))
        .when(id % 6 === 3, lit("dataset"))
        .when(id % 6 === 4, lit("briefing"))
        .otherwise(lit("Collection")).as("type_raw"),
      lit("published").as("review_state"),
      concat(lit("Title "), id).as("title"),
      array(lit("Rhine")).as("spatial"),
      col("text"),
      lit("summary text").as("summary"),
      struct(array(struct(lit("BP12 - Flood regulation").as("name")),
        struct(lit("Other impact").as("name"))).as("value"))
        .as("biophysical_impacts"),
      struct(array(struct(lit("ES3 - Water purification").as("name")))
        .as("value")).as("ecosystem_services"),
      struct(array(struct(lit("PO1 - Good status").as("name")))
        .as("value")).as("policy_objectives"),
      array(struct(lit("WFD").as("title"))).as("legislative_reference"),
      array(lit("AT")).as("country"),
      struct(concat(lit("<p>Measure summary "), id, lit("</p>")).as("data"))
        .as("measure_summary"))
    normalizeWiseFreshwater(docs)
      .select(
        col("doc_id"),
        array_join(col("object_provides"), "|").as("object_provides"),
        array_join(col("spatial"), "|").as("spatial"),
        array_join(col("exclude_from_globalsearch"), "|")
          .as("exclude_from_globalsearch"),
        array_join(col("biophysical_impacts"), "|").as("biophysical_impacts"),
        array_join(col("ecosystem_services"), "|").as("ecosystem_services"),
        array_join(col("policy_objectives"), "|").as("policy_objectives"),
        array_join(col("legislative_reference"), "|").as("legislative_reference"),
        array_join(col("wise_country"), "|").as("wise_country"),
        col("workflow_state"), col("cluster_name"), col("description"),
        col("items_count_object_provides"), col("items_count_policy_objectives"))
      .orderBy("doc_id")
  }

  /** queries() entry: the fise_resource site pipeline — resource_type
    * drives objectProvides raw, country from geo_coverage geolocation
    * labels with the Kosovo second-pass map, keywords/publicationYear/
    * topic renames, forced update frequency.
    */
  def qSiteFiseResource(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val docs = graft.Tables.documents(s, d).select(
      id,
      concat(lit("https://forest.eea.europa.eu/r/"), id).as("id"),
      lit("fise_resource").as("type_raw"),
      lit("published").as("review_state"),
      concat(lit("Title "), id).as("title"),
      col("text"),
      lit("summary text").as("summary"),
      when(id % 4 === 0, lit("Dataset"))
        .when(id % 4 === 1, lit("Map"))
        .when(id % 4 === 2, lit("Document"))
        .otherwise(lit("Report")).as("resource_type"),
      struct(
        when(id % 2 === 0,
          array(struct(lit("Kosovo (UNSCR 1244/99)").as("label")),
            struct(lit("Italy").as("label"))))
          .otherwise(array(struct(lit("Spain").as("label"))))
          .as("geolocation")).as("geo_coverage"),
      array(lit("s1"), lit("s2")).as("subjects"),
      when(id % 3 === 0, lit("2015")).as("publishing_year"),
      array(lit("forest")).as("resource_topics"))
    normalizeFiseResource(docs)
      .select(
        col("doc_id"),
        array_join(col("object_provides"), "|").as("object_provides"),
        array_join(col("country"), "|").as("country"),
        array_join(col("keywords"), "|").as("keywords"),
        col("publicationYear"),
        col("update_frequency_value"),
        array_join(col("topic"), "|").as("topic"),
        col("workflow_state"), col("cluster_name"), col("description"),
        col("items_count_object_provides"), col("items_count_country"),
        col("items_count_topic"))
      .orderBy("doc_id")
  }

  /** queries() entry: the copernicus_insitu site pipeline — five taxonomy
    * vocab fan-outs + the preview-image download path.
    */
  def qSiteInsitu(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val docs = graft.Tables.documents(s, d).select(
      id,
      concat(lit("https://insitu.copernicus.eu/d/"), id).as("id"),
      when(id % 4 === 0, lit("Document"))
        .when(id % 4 === 1, lit("Page"))
        .when(id % 4 === 2, lit("News Item"))
        .otherwise(lit("File")).as("type_raw"),
      lit("published").as("review_state"),
      concat(lit("Title "), id).as("title"),
      col("text"),
      lit("summary text").as("summary"),
      array(struct(lit("State of play").as("title"))).as("taxonomy_report_category"),
      array(struct(lit("CLMS").as("title"))).as("taxonomy_copernicus_components"),
      array(struct(lit("Atmosphere").as("title"))).as("taxonomy_copernicus_themes"),
      array(struct(lit("EEA").as("title"))).as("data_providers_list"),
      array(struct(lit("Land").as("title")),
        struct(lit("Marine").as("title"))).as("copernicus_services"),
      struct(struct(struct(
        concat(lit("http://img/"), id, lit(".png")).as("download"))
        .as("preview")).as("scales")).as("preview_image"))
    normalizeCopernicusInsitu(docs)
      .select(
        col("doc_id"),
        array_join(col("object_provides"), "|").as("object_provides"),
        array_join(col("taxonomy_report_category"), "|").as("taxonomy_report_category"),
        array_join(col("taxonomy_copernicus_components"), "|")
          .as("taxonomy_copernicus_components"),
        array_join(col("taxonomy_copernicus_themes"), "|")
          .as("taxonomy_copernicus_themes"),
        array_join(col("data_providers_list"), "|").as("data_providers_list"),
        array_join(col("copernicus_services"), "|").as("copernicus_services"),
        col("insitu_preview_image"),
        col("workflow_state"), col("cluster_name"), col("description"),
        col("items_count_object_provides"), col("items_count_copernicus_services"))
      .orderBy("doc_id")
  }

  /** queries() entry: the copernicus_land site pipeline ("land" +
    * "land_demo" registry names) — technical-library taxonomy facets
    * ('#' tree leaves, '»' group prefixes deduped keeping first), file
    * size/version defaults, and the TechnicalLibrary issued/year date
    * chain.
    */
  def qSiteLand(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val docs = graft.Tables.documents(s, d).select(
      id,
      concat(lit("https://land.copernicus.eu/d/"), id).as("id"),
      when(id % 4 === 0, lit("TechnicalLibrary"))
        .when(id % 4 === 1, lit("Document"))
        .when(id % 4 === 2, lit("Page"))
        .otherwise(lit("File")).as("type_raw"),
      lit("published").as("review_state"),
      concat(lit("Title "), id).as("title"),
      col("text"),
      lit("summary text").as("summary"),
      lit(null).cast("string").as("description"),
      array(struct(lit("root#Products » Global").as("title")),
        struct(lit("root#Products » Local").as("title")),
        struct(lit("x#Docs » Manuals").as("title")))
        .as("taxonomy_technical_library_categorization"),
      when(id % 2 === 0, struct(lit(1024L).as("size")))
        .as("file"),
      when(id % 3 === 0, lit("v2")).as("version"),
      lit(null).cast("string").as("publication_date"),
      when(id % 4 === 0, lit("2020-05-05")).as("creation_date"),
      lit("2019-01-01").as("created"))
    normalizeCopernicusLand(docs)
      .select(
        col("doc_id"),
        array_join(col("object_provides"), "|").as("object_provides"),
        array_join(col("library_categories_values"), "|")
          .as("library_categories_values"),
        array_join(col("library_categories_facet"), "|")
          .as("library_categories_facet"),
        col("file_size"), col("version"),
        col("issued"), col("year"),
        col("workflow_state"), col("cluster_name"), col("description"),
        col("items_count_object_provides"),
        col("items_count_library_categories_values"))
      .orderBy("doc_id")
  }

  /** queries() entry: the flagship eea site pipeline — the Fiche
    * parent-duplicate Dice gate (identical descriptions drop, disjoint
    * ones keep and map to Briefing), the post-normalization English-FAQ
    * drop with the normMissing language fill, glossary-term raw
    * description/source, and the duplicate-info Briefing append with its
    * count bump.
    */
  def qSiteEea(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val docs = graft.Tables.documents(s, d).select(
      id,
      concat(lit("https://www.eea.europa.eu/d/"), id).as("id"),
      when(id % 7 === 0, lit("Document"))
        .when(id % 7 === 1, lit("Fiche"))
        .when(id % 7 === 2, lit("Fiche"))
        .when(id % 7 === 3, lit("Term"))
        .when(id % 7 === 4, lit("helpcenter_faq"))
        .when(id % 7 === 5, lit("helpcenter_faq"))
        .otherwise(lit("Page")).as("type_raw"),
      lit("published").as("review_state"),
      concat(lit("Title "), id).as("title"),
      col("text"),
      lit("summary text").as("summary"),
      when(id % 7 === 1, concat(lit("Dup text "), id))
        .when(id % 7 === 2, concat(lit("Alpha beta gamma "), id))
        .when(id % 7 === 3, concat(lit("Term desc "), id)).as("description"),
      when(id % 7 === 1 || id % 7 === 2, lit("Report")).as("parent_type"),
      when(id % 7 === 1, concat(lit("Dup text "), id))
        .when(id % 7 === 2, lit("zeta eta theta")).as("parent_description"),
      lit("EEA glossary").as("source"),
      when(id % 7 === 4, lit("fr")).as("language"),
      when(id % 7 === 6, lit(true)).as("has_duplicate"))
    normalizeEea(docs)
      .select(
        col("doc_id"),
        array_join(col("object_provides"), "|").as("object_provides"),
        col("language"),
        col("term_description"), col("term_source"),
        col("workflow_state"), col("cluster_name"), col("description"),
        col("items_count_object_provides"))
      .orderBy("doc_id")
  }
}
