package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.bridge.{GenericKeys, Part4Bridge}
import graft.functions.{DoseLib, FuzzyLib, TextNorm, TokenLib}
import graft.pipelines.DrugsTaggingPipeline
import graft.refbuild.UnifiedReference
import graft.tagger.ScoredTagger

/** Parts 2–4 of the paper's drug pipeline. One unit runs
  * `DrugsTaggingPipeline.matchRecords` over the eSOA bridge corpus with
  * the Annex F tagging as its annex, then `ScoredTagger.tagTexts` over
  * the eSOA rate corpus, both against the e2e unified catalog, brand map
  * and synonyms. The seed permutes row order and id assignment. The last
  * unit's bridge rows are mapped back through the permutation and checked
  * row-for-row against the bridge golden, its rate rows against the rate
  * golden's exact aggregates.
  */
final class Linkage(c: Ctx) extends Workload(c) {
  import Workload.str

  private val res = c.root.resolve("src/test/resources/graft")
  // no warm-up unit: a unit is ~20 s cold on local[4], nearly all fixed
  // cost, and a second one does not fit the run


  private def csv(rel: String): DataFrame =
    spark.read.option("header", "true").csv(res.resolve(rel).toString)

  // set-up state
  private var catalog: DataFrame = _
  private var brandMap: Map[String, String] = Map.empty
  private var synonyms: Map[String, String] = Map.empty
  private var annexRaw: DataFrame = _
  private var esoa: DataFrame = _
  private var rate: DataFrame = _
  private var esoaOrig: Map[Long, Long] = Map.empty
  private var esoaTexts: IndexedSeq[String] = IndexedSeq.empty
  private var rateTexts: IndexedSeq[String] = IndexedSeq.empty
  private var inputBytes = 0L

  // the last unit's outputs, checked after the timed window
  private var lastBridge: Array[Row] = Array.empty
  private var lastRate: Array[Row] = Array.empty

  /** Seeded (new id, original id, text) rows: a permutation of the
    * corpus with ids reassigned in permuted order.
    */
  private def permuted(rel: String, salt: Long): Seq[(Long, Long, String)] = {
    val rows = csv(rel).select(col("id").cast("long"),
        coalesce(col("text"), lit(""))).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    c.rng(salt).shuffle(rows).zipWithIndex
      .map { case ((orig, t), i) => (i + 1L, orig, t) }
  }

  def setup(): Unit = {
    val s = spark
    import s.implicits._
    val dir = c.dir("linkage")
    val e = permuted("part4/bridge_rate_texts.csv", 1)
    val r = permuted("rate/rate_texts.csv", 2)
    val esoaPath = c.writeInput(e.map(t => (t._1, t._3)).toDF("id", "text"),
      dir.resolve("esoa.parquet"))
    val ratePath = c.writeInput(r.map(t => (t._1, t._3)).toDF("id", "text"),
      dir.resolve("rate.parquet"))
    inputBytes = Workload.bytesUnder(dir)
    esoaOrig = e.map(t => t._1 -> t._2).toMap
    esoaTexts = e.map(_._3).toIndexedSeq
    rateTexts = r.map(_._3).toIndexedSeq
    esoa = s.read.parquet(esoaPath)
    rate = s.read.parquet(ratePath)
    c.span("refbuild.catalog") {
      val generics = csv("e2e/unified_generics.csv")
      catalog = UnifiedReference.buildTaggerCatalog(generics,
        csv("e2e/unified_atc.csv"), Some(csv("e2e/unified_mixtures.csv")))
        .localCheckpoint(true)
      brandMap = UnifiedReference.buildBrandMap(csv("e2e/unified_brands.csv"), generics)
      synonyms = UnifiedReference.buildSynonymMap(csv("e2e/unified_synonyms.csv"))
    }
    annexRaw = csv("part4/annex_f_with_atc.csv")
      .select(col("Drug Code").as("drug_code_in"),
        coalesce(col("Drug Description"), lit("")).as("text"))
      .withColumn("id", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("drug_code_in")).cast("long"))
      .localCheckpoint(true)
  }

  /** The Annex F tagging, bridged into Part-4 index rows. */
  private def annexFrame(s: SparkSession): DataFrame = {
    val annexKeysUdf = udf((g: String) => GenericKeys.annexIndexKeys(g))
    ScoredTagger.tagTexts(s, annexRaw.select("id", "text"), catalog,
        brandMap = brandMap, synonyms = synonyms)
      .join(annexRaw.select("id", "drug_code_in"), Seq("id"))
      .withColumn("index_keys", annexKeysUdf(col("generic_name")))
      .filter(size(col("index_keys")) > 0)
      .withColumn("dose_key", Part4Bridge.doseKeyUdf(
        col("drug_amount_mg"), col("concentration_mg_per_ml"),
        col("iv_diluent_type"), col("total_volume_ml"),
        col("dose"), col("text"), coalesce(col("generic_name"), lit(""))))
      .select(col("index_keys"), col("drug_code_in").as("drug_code"),
        col("dose_key"), col("form"), col("route"),
        col("text").as("description"))
  }

  def unit(i: Long): Long = {
    val tr = c.tracer
    lastBridge = c.span("pipelines.matchRecords") {
      // matchRecords tags the eSOA texts (and pins them) before it asks
      // for the annex, so the interval up to the annex callback is the
      // eSOA tagging; the annex is pinned inside its own span
      var esoaSpan = tr.begin("tagger.esoa")
      def closeEsoa(): Unit = if (esoaSpan != null) { tr.end(esoaSpan); esoaSpan = null }
      var annexPin: DataFrame = null
      val annexF = (s: SparkSession) => {
        closeEsoa()
        annexPin = c.span("tagger.annex") { annexFrame(s).localCheckpoint(true) }
        annexPin
      }
      val pipeline = new DrugsTaggingPipeline(
        texts = _ => esoa, catalog = _ => catalog, brandMap = brandMap,
        annex = Some(annexF), synonyms = synonyms)
      try {
        val out =
          try pipeline.matchRecords(spark, esoa.select("id", "text"))
          finally closeEsoa()
        c.span("bridge.match") { out.collect() }
      } finally if (annexPin != null) annexPin.unpersist()
    }
    lastRate = c.span("tagger.esoa") { tagRate() }
    (lastBridge.length + lastRate.length).toLong
  }

  private def tagRate(): Array[Row] =
    ScoredTagger.tagTexts(spark, rate.select("id", "text"), catalog,
      brandMap = brandMap, synonyms = synonyms).collect()

  private val Null = "<NULL>"

  private def present(v: String): Boolean = v != null && v.nonEmpty && v != "None"

  def check(): Seq[String] = {
    val golden = csv("part4/bridge_rate_golden.csv").collect()
      .map(r => r.getAs[String]("id").toLong ->
        (r.getAs[String]("drug_code"), r.getAs[String]("drug_code_match_reason")))
      .toMap
    val got = lastBridge.map { r =>
      esoaOrig(r.getAs[Long]("id")) ->
        (Option(str(r, "drug_code")).getOrElse(Null),
          Option(str(r, "drug_code_match_reason")).getOrElse(Null))
    }.toMap
    val bridgeDiffs =
      if (got.keySet != esoaOrig.values.toSet) Seq("bridge: row id sets differ")
      else got.keys.toSeq.sorted.filter(id => got(id) != golden(id)).map(id =>
        s"bridge id=$id golden=${golden(id)} graft=${got(id)}")
    val counts = scala.collection.mutable.Map.empty[String, Long]
    def bump(k: String): Unit = counts(k) = counts.getOrElse(k, 0L) + 1
    val gens = scala.collection.mutable.Set.empty[String]
    lastRate.foreach { r =>
      bump(s"reason:${str(r, "match_reason")}")
      val sc = str(r, "match_score")
      bump(s"score:${if (present(sc)) sc.toDouble.toInt else -1}")
      Seq("atc_code", "drugbank_id", "dose", "form", "route").foreach { k =>
        if (present(str(r, k))) bump(s"${k}_present")
      }
      val g = str(r, "generic_name")
      if (present(g)) gens += g
    }
    counts("rows") = lastRate.length.toLong
    counts("distinct_generics") = gens.size.toLong
    val want = csv("rate/rate_golden.csv").collect()
      .map(r => r.getAs[String]("metric") -> r.getAs[String]("count").toLong).toMap
    val rateDiffs = (want.keySet ++ counts.keySet).toSeq.sorted.flatMap { k =>
      val (w, g) = (want.getOrElse(k, 0L), counts.getOrElse(k, 0L))
      if (w != g) Some(s"rate $k: golden=$w graft=$g") else None
    }
    bridgeDiffs ++ rateDiffs
  }

  def properties(): Seq[(String, Double)] = {
    val texts = esoaTexts ++ rateTexts
    Seq("rows" -> texts.size.toDouble,
      "distinct_text_share" -> texts.distinct.size.toDouble / texts.size,
      "input_bytes" -> inputBytes.toDouble)
  }

  def layers(v: TraceView): Seq[(String, Option[Double])] = {
    val tagger = Seq("tagger.esoa", "tagger.annex")
    val taggerCalls = v.perUnit("tagger.esoa")(_ => 1.0).getOrElse(0.0) +
      v.perUnit("tagger.annex")(_ => 1.0).getOrElse(0.0)
    val matched = lastBridge.count(r => str(r, "match_reason") == "matched")
    val coded = lastBridge.count(r => str(r, "drug_code") != null)
    val texts = esoaTexts
    Seq(
      "refbuild.catalog_s" -> v.perCall("refbuild.catalog")(_.wallS),
      "tagger.annex_s" -> v.selfS("tagger.annex"),
      "tagger.esoa_s" -> v.selfS("tagger.esoa"),
      "tagger.jobs_per_call" -> v.countPerUnit(tagger)(_.jobs.toDouble)
        .map(_ / math.max(taggerCalls, 1.0)),
      "tagger.shuffle_mb" -> v.countPerUnit(tagger)(_.shuffleBytes / 1e6),
      "tagger.cpu_util" -> v.cpuUtil(tagger, c.cores),
      "tagger.distinct_share" -> Some(texts.distinct.size.toDouble / texts.size),
      "tagger.matched_share" -> Some(matched.toDouble / math.max(lastBridge.length, 1)),
      "bridge.match_s" -> v.selfS("bridge.match"),
      "bridge.coded_share" -> Some(coded.toDouble / math.max(lastBridge.length, 1)),
      "pipelines.self_s" -> v.selfS("pipelines.matchRecords"))
  }

  override def kernels(): Seq[(String, Double)] = {
    val texts = esoaTexts ++ rateTexts
    val names = catalog.select("generic_name").collect()
      .flatMap(r => Option(r.getString(0))).distinct.take(64).toIndexedSeq
    val pairs = texts.take(256).flatMap(t => names.take(16).map(n => (t, n)))
    Seq(
      "functions.normalize_ns_per_row" -> nsPer(texts)(TextNorm.normalizeText),
      "functions.tokens_ns_per_row" -> nsPer(texts)(t => TokenLib.extractGenericTokens(t)),
      "functions.dose_ns_per_row" -> nsPer(texts)(DoseLib.parseDoseComponents),
      "functions.fuzzy_ns_per_pair" -> nsPer(pairs) { case (a, b) => FuzzyLib.ratio(a, b) })
  }

  def release(): Unit = {
    Seq(catalog, annexRaw).filter(_ != null).foreach(_.unpersist())
    catalog = null
    annexRaw = null
  }
}
