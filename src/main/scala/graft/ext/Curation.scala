package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The end-to-end training-data curation flow (SURVEY §7.6 operators
  * composed): exact dedup → near-dup keeper selection → quality/language
  * gating → enriched output (fingerprints, token stats, optional embedding
  * join). Each gate is a left-semi join against a keeper/pass set, so the
  * corpus streams through narrow key joins — no gate materializes text
  * beyond its own aggregate, and the whole flow is one declarative plan
  * per stage at 100 TB.
  *
  * Every underlying operator is individually oracle-verified (q09, q16,
  * q10-q12, q40, q43); this module is their production composition plus a
  * per-stage accounting report (the number a data-curation run actually
  * publishes: how much each gate dropped).
  */
object Curation {

  final case class Gates(
      minChars: Int = 50,
      minAlphaRatio: Double = 0.35,
      nearDupThreshold: Double = 0.6,
      langAllow: Seq[String] = Nil, // empty = all languages pass
      /** labeled (lang, text) training corpus: when set, the language
        * gate CLASSIFIES each doc with the trained char-n-gram model
        * ([[TextStats.langIdAgainst]]) instead of trusting a metadata
        * `lang` column — the production shape (crawled corpora carry no
        * trustworthy language tags). */
      langModel: Option[DataFrame] = None,
      // optional model-quality gates (r8 operators). Judge-only-what-you-
      // can-measure rule: a doc the gate CANNOT score (too short for a
      // bigram LM; no embedding row) passes that gate rather than dying
      // to missing metadata.
      minFluency: Option[Double] = None,  // self-LM mean bigram prob floor
      outlierFrac: Option[Double] = None, // bottom-frac embedding cut
      outlierK: Int = 8)

  /** Per-stage survivor sets, as (stage name → doc_id set). Every gate is
    * computed against the ORIGINAL corpus: a doc failing several gates is
    * counted by each of them (independent per-gate signals — see
    * [[report]]); the curated output intersects all of them. */
  private def gateSets(docs: DataFrame, gates: Gates,
                       embeddings: Option[DataFrame]): Seq[(String, DataFrame)] = {
    val exactKeepers = Dedup.exact(docs, "doc_id", "text")
      .select(col("keeper_id").as("doc_id"))
    val nearKeepers = Dedup.minhashDedupAssignments(docs, "doc_id", "text",
        n = 1, k = 32, bands = 4, threshold = gates.nearDupThreshold)
      .filter(col("keeper_id") === col("doc_id"))
      .select(col("doc_id"))
    val quality = TextStats.qualityReport(docs, "doc_id", "text")
      .filter(col("n_chars") >= gates.minChars &&
        col("alpha_ratio") >= gates.minAlphaRatio)
      .select(col("doc_id"))
    val lang =
      if (gates.langAllow.isEmpty) docs.select(col("doc_id"))
      else gates.langModel match {
        case Some(train) =>
          TextStats.langIdAgainst(train, "lang", "text",
              docs, "doc_id", "text")
            .filter(col("lang").isInCollection(gates.langAllow))
            .select(col("doc_id"))
        case None =>
          docs.filter(col("lang").isInCollection(gates.langAllow))
            .select(col("doc_id"))
      }
    val fluency = gates.minFluency.map { floor =>
      "fluency" -> TextStats.bigramFluency(docs, "doc_id", "text")
        .filter(col("mean_prob_r9").isNull ||
          col("mean_prob_r9") >= floor)
        .select(col("doc_id"))
    }
    val outliers = for {
      frac <- gates.outlierFrac; emb <- embeddings
    } yield "embedding_outlier" ->
      docs.select(col("doc_id")).join(
        SimSearch.embeddingOutliers(emb, "vec_id", "embedding",
            gates.outlierK, frac)
          .filter(col("is_outlier")).select(col("id").as("doc_id")),
        Seq("doc_id"), "left_anti")
    Seq("exact_dedup" -> exactKeepers, "near_dedup" -> nearKeepers,
      "quality" -> quality, "language" -> lang) ++ fluency ++ outliers
  }

  private def survivors(docs: DataFrame,
                        sets: Seq[(String, DataFrame)]): DataFrame =
    sets.foldLeft(docs) { case (acc, (_, pass)) =>
      acc.join(pass, Seq("doc_id"), "left_semi")
    }

  /** Curated corpus: documents surviving every gate, enriched with
    * fingerprints and token counts (and the embedding when `embeddings`
    * is supplied — left join; docs without a vector keep null). */
  def curate(docs: DataFrame, gates: Gates = Gates(),
             embeddings: Option[DataFrame] = None): DataFrame = {
    val kept = survivors(docs, gateSets(docs, gates, embeddings))
    val enriched = TextStats.fingerprints(kept, "text")
      .withColumn("n_tokens", TextStats.tokenCount(col("text")).cast("long"))
    embeddings.fold(enriched)(emb =>
      enriched.join(emb.select(col("vec_id").as("doc_id"), col("embedding")),
        Seq("doc_id"), "left"))
  }

  /** Drop accounting: one row per gate with how many of the ORIGINAL docs
    * it rejects, plus the final survivor count ("curated"). Gate counts are
    * independent (a doc failing two gates counts in both) — the honest
    * per-gate signal for tuning thresholds. The gate sets are built ONCE
    * and reused for the survivor count: the near-dup gate is a full-corpus
    * MinHash pass, far too expensive to run twice per accounting call. */
  def report(docs: DataFrame, gates: Gates = Gates(),
             embeddings: Option[DataFrame] = None): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val total = docs.count()
    val sets = gateSets(docs, gates, embeddings)
      .map { case (n, df) => (n, df.localCheckpoint()) }
    val rows = sets.map { case (name, pass) =>
      (name, total - docs.join(pass, Seq("doc_id"), "left_semi").count())
    } :+ ("curated" -> survivors(docs, sets).count())
    rows.toDF("stage", "n_docs")
  }
}
