package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** Character-n-gram language-model scoring — the portable core of
  * the perplexity quality gate every pre-training pipeline runs
  * (KenLM-style: fit an n-gram model on the corpus, drop documents
  * the model finds improbable). Generalizes the reference's
  * heuristic text-quality gates (tts_data_pipeline
  * pre_processing/process_all.py length/charset checks) to a
  * corpus-fit statistical score.
  *
  * The score is deliberately kept in INTEGER sufficient statistics —
  * per-document `(n_bigrams, familiarity = Σ corpus_count(bigram),
  * n_rare = #occurrences of corpus-rare bigrams)` — rather than a
  * log-probability: `ln`/`log` are not correctly-rounded-portable
  * across engines (the house float rule), while sums of longs are
  * order-independent and hash-gate exactly. Callers derive their
  * float of choice downstream (`familiarity/n_bigrams` as the mean
  * familiarity, `n_rare/n_bigrams` as the garbage ratio — a doc of
  * random bytes scores near-zero familiarity and near-one rarity).
  * Rarity is RELATIVE to corpus mass (`count * rareFactor < total
  * occurrences`, all-integer) so the gate keeps meaning as the
  * corpus scales — an absolute cutoff goes vacuous at 100× data.
  */
object CharLm {

  /** Character-bigram array of a string column: positions 1..len-1,
    * two characters each; empty below length 2. Character (not
    * byte) indexing on both engines, so multibyte text (the
    * corpus's zh documents) shingles identically. One codegen'd
    * kernel call per row ([[graft.functions.StringOps
    * .charBigrams]]) — the first cut, an interpreted
    * `transform(sequence(1, len-1), i -> substr)` HOF, evaluated an
    * expression tree per CHARACTER and was the q77 scan's hot loop
    * (~4.1 s at sf0.1 vs ~1 s with the kernel; the q59 lesson). */
  def charBigrams(c: Column): Column = GraftFunctions.char_bigrams(c)

  /** Corpus bigram model: `(bg, bg_count, is_rare)`. Bounded state:
    * distinct char bigrams are charset², so the groupBy's map-side
    * combine collapses every partition to a model-sized slab before
    * the exchange — the shuffle moves O(|charset|²) rows regardless
    * of corpus size, and the finished model broadcasts. The total
    * for the relative-rarity flag is a one-row cross join, not a
    * driver collect. */
  def bigramModel(docs: DataFrame, rareFactor: Long = 2000,
                  textCol: String = "text"): DataFrame = {
    require(rareFactor > 0, "rareFactor must be positive")
    val counts = docs
      .select(explode(charBigrams(col(textCol))).as("bg"))
      .groupBy(col("bg"))
      .agg(count(lit(1)).as("bg_count"))
    val total = counts.agg(sum(col("bg_count")).as("__tot"))
    counts.crossJoin(broadcast(total))
      .select(col("bg"), col("bg_count"),
        (col("bg_count") * lit(rareFactor) < col("__tot")).as("is_rare"))
  }

  /** Per-document familiarity statistics under the corpus's own
    * bigram model (fit + score in one lineage — two scans of the
    * corpus by construction, since a corpus-fit model cannot be
    * known mid-scan; fitting on one corpus and scoring another is
    * the same join with a different `docs` on the scoring side).
    *
    * Scale shape: the scoring pass explodes each document's bigrams,
    * hash-joins the BROADCAST model (no corpus shuffle), and
    * re-aggregates per document — a document's bigrams never leave
    * its partition, so the map-side combine hands the exchange one
    * row per document, not per character. Documents the explode
    * drops (null or shorter than two characters — exactly the rows
    * with no bigrams) come back as all-zero stats via a filtered
    * scan UNION, not a corpus-wide left join: the complement is
    * computable by predicate, so joining the whole corpus against
    * itself just to re-attach a handful of degenerate rows would be
    * a pure shuffle tax. */
  def bigramFamiliarity(docs: DataFrame, rareFactor: Long = 2000,
                        idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val model = bigramModel(docs, rareFactor, textCol)
    val scored = docs
      .select(col(idCol), explode(charBigrams(col(textCol))).as("bg"))
      .join(broadcast(model), Seq("bg"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(col("bg_count")).as("familiarity"),
        sum(when(col("is_rare"), lit(1L)).otherwise(lit(0L))).as("n_rare"))
    val zeros = docs
      .filter(col(textCol).isNull || length(col(textCol)) < 2)
      .select(col(idCol), lit(0L).as("n_bigrams"),
        lit(0L).as("familiarity"), lit(0L).as("n_rare"))
    scored.union(zeros)
  }

  /** Collect a [[bigramModel]] to the driver as a serializable
    * [[graft.functions.CharLmModel]] — the fit-once half of
    * fit-batch/score-anywhere: the returned model closes over a
    * codegen'd expression ([[scoreWithModel]]) that scores any
    * frame, batch or streaming, with ZERO per-row state and no
    * join. The collect is bounded by construction (distinct char
    * bigrams ≤ charset²) and guarded by `maxModelRows` — exceeding
    * it fails fast rather than silently ballooning the driver (the
    * house rule for every bounded driver-side read). */
  def collectModel(docs: DataFrame, rareFactor: Long = 2000,
                   textCol: String = "text",
                   maxModelRows: Int = 1 << 20): graft.functions.CharLmModel = {
    val rows = Bounded.collectOrFail(
      bigramModel(docs, rareFactor, textCol).select(col("bg"), col("bg_count")), maxModelRows)(
      s"bigram model exceeds $maxModelRows rows — not a char-bigram-sized census")
    val counts = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    graft.functions.CharLmModel(counts, counts.valuesIterator.sum, rareFactor)
  }

  /** Score a frame against a FIXED batch-fit model: a pure codegen'd
    * projection (no model join, no aggregation, no state), so it
    * runs identically on a batch frame and on an unbounded stream —
    * the standard fit-once/score-forever deployment of a corpus
    * quality model. On the model's own fit corpus this equals
    * [[bigramFamiliarity]] row-for-row (spec-pinned); on NEW text,
    * bigrams the fit corpus never saw contribute familiarity 0 and
    * count rare. */
  def scoreWithModel(docs: DataFrame, model: graft.functions.CharLmModel,
                     idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
        GraftFunctions.char_bigram_score(col(textCol), model).as("__s"))
      .select(col(idCol),
        coalesce(col("__s.n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("__s.familiarity"), lit(0L)).as("familiarity"),
        coalesce(col("__s.n_rare"), lit(0L)).as("n_rare"))
}
