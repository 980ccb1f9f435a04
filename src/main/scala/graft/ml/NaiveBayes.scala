package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multinomial Naive Bayes text classifier — the classification twin of
  * [[graft.ann.KMeans]]'s centroids-as-literals pattern, covering the
  * "model-scored quality/language filter" step of a training-data
  * pipeline (the reference's curation surface stops at hand-written
  * heuristics; classifier filtering is the scale path that replaces
  * them).
  *
  * Training is ONE aggregation pass: each document emits its tokens plus
  * one synthetic per-document marker token, so the (class, token) counts
  * and the per-class document counts ride the same shuffle. The reduced
  * frame is model-sized (≤ classes × vocab rows) and is collected to the
  * driver — that is the model, not data, exactly like k·dim centroids.
  *
  * Scoring is ROW-LOCAL: per-class token log-likelihoods enter the plan
  * as map literals and a document's score is a fold over its token
  * array — no join, no shuffle, nothing wide. At 100 TB the apply side
  * is a pure map stage that pipelines into whatever filter consumes it.
  *
  * Every weight is an integer in micro-log units (`floor(ln(p)·1e6)`),
  * so per-document scores are exact integer sums — order-free, and
  * bit-replayable by any SQL engine with `ln`/`floor` (the DuckDB oracle
  * replays training and scoring verbatim; `floor` because its rounding
  * is engine-independent, unlike half-away/half-even `round`).
  */
object NaiveBayes {

  /** Synthetic per-document row that rides the (class, token) shuffle so
    * per-class doc counts need no second pass. [[tokens]] strips this
    * exact value from real text, so a hostile document containing the
    * literal NUL-prefixed token cannot inflate its class's prior (raw
    * NUL bytes DO survive whitespace splitting — "cannot collide" was
    * wrong, so the collision is now prevented rather than assumed away). */
  private val DocMarker = "\u0000doc"

  /** Hard ceiling on (class, token) model rows, for BOTH halves of the
    * model's life: fit()'s driver collect, and — the tighter constraint —
    * score()/best(), which embed the per-class maps into the plan as
    * `typedlit` literals. A literal-backed model costs plan analysis,
    * optimization and task-binary size proportional to its entry count
    * (the same blowup class the centroid work measured at 22× when a
    * literal subtree was re-derived per leg); ~100k entries is where the
    * task binary stays single-digit MiB and plan derivation stays cheap
    * (measured in `SpineProbe scale` `nb_plan_*`, recorded in SCALING.md).
    * Larger vocabularies must be hashed into a bounded feature space
    * before training — at that size a literal map is the wrong
    * representation, not a tunable. */
  val MaxModelRows = 100000L

  private def microFloor(x: Double): Long = math.floor(x * 1e6).toLong

  /** classes sorted ascending; all weights in micro-log units. */
  final case class Model(
      classes: Seq[String],
      prior: Map[String, Long],
      loglik: Map[String, Map[String, Long]],
      unseen: Map[String, Long])

  /** Whitespace tokens of `text`, empties dropped (split of an empty
    * string yields [""], which must not count as a token). NULL text
    * counts as empty — otherwise the null array would silently drop the
    * document from training (no marker row → wrong prior) and null out
    * its score on apply. The [[DocMarker]] value is also dropped so no
    * real token can impersonate the per-document counting row in fit()
    * — symmetric at scoring time, where the marker token carries no
    * evidence either way. */
  def tokens(text: Column): Column =
    filter(split(regexp_replace(trim(coalesce(text, lit(""))), "\\s+", " "), " "),
      w => w =!= "" && w =!= DocMarker)

  /** Train with add-one smoothing in one aggregation pass + a
    * model-sized collect. Smoothing denominator is `T_c + V` with V the
    * GLOBAL distinct vocabulary, so unseen-token mass is shared across
    * classes.
    *
    * The collect is safe ONLY because text vocabulary is bounded — the
    * reduced frame is (class × vocab)-sized, independent of corpus rows.
    * `maxModelRows` (default [[MaxModelRows]], which is sized for the
    * plan-literal scoring path, not just this collect) makes that
    * assumption explicit: the aggregate is cut once (so the guard count
    * and the collect read the same materialization, not two corpus
    * passes) and training fails loudly instead of OOMing the driver or
    * bloating every task binary when fed an unbounded-vocabulary column;
    * hash such tokens into a bounded feature space first. */
  def fit(docs: DataFrame, labelCol: String, textCol: String,
      maxModelRows: Long = MaxModelRows): Model = {
    val agg = docs
      .select(col(labelCol).as("__c"),
        explode(concat(array(lit(DocMarker)), tokens(col(textCol)))).as("__w"))
      .groupBy("__c", "__w").count()
      .localCheckpoint(false)
    val modelRows = agg.count()
    require(modelRows <= maxModelRows,
      s"NB model would hold $modelRows (class, token) rows (> $maxModelRows): " +
        "the text column's vocabulary is not bounded — hash tokens into a " +
        "bounded feature space first (a model this size is too large to " +
        "embed in the plan as scoring literals; see NaiveBayes.MaxModelRows)")
    val counts = agg
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val classes = counts.map(_._1).distinct.sorted.toSeq
    val vocab = counts.collect { case (_, w, _) if w != DocMarker => w }.distinct
    val nDocs = counts.collect { case (_, `DocMarker`, n) => n }.sum
    val byClass = counts.groupBy(_._1)
    val model = classes.map { c =>
      val rows = byClass(c)
      val nd = rows.collectFirst { case (_, `DocMarker`, n) => n }.getOrElse(0L)
      val tc = rows.collect { case (_, w, n) if w != DocMarker => n }.sum
      val denom = (tc + vocab.length).toDouble
      val ll = rows.collect { case (_, w, n) if w != DocMarker =>
        w -> microFloor(math.log((n + 1.0) / denom))
      }.toMap
      (c, microFloor(math.log(nd.toDouble / nDocs)), ll,
        microFloor(math.log(1.0 / denom)))
    }
    Model(classes, model.map(m => m._1 -> m._2).toMap,
      model.map(m => m._1 -> m._3).toMap, model.map(m => m._1 -> m._4).toMap)
  }

  /** A Model built outside [[fit]] (or deserialized) must still respect
    * the plan-literal budget before its maps become `typedlit`s. */
  private def requireLiteralBudget(m: Model): Unit = {
    val entries = m.loglik.valuesIterator.map(_.size.toLong).sum
    require(entries <= MaxModelRows,
      s"NB model holds $entries loglik entries (> $MaxModelRows): too large " +
        "to embed in the plan as scoring literals — hash tokens into a " +
        "bounded feature space and retrain")
  }

  /** Per-class score of `text`: prior + Σ loglik(token), unseen tokens
    * taking the class's smoothed floor. Integer fold — row-local. */
  def score(text: Column, m: Model, cls: String): Column = {
    requireLiteralBudget(m)
    val weights = typedlit(m.loglik(cls))
    aggregate(tokens(text), lit(m.prior(cls)),
      (acc, w) => acc + coalesce(element_at(weights, w), lit(m.unseen(cls))))
  }

  /** The winning (score, -classIdx) struct: argmax by (score, class asc)
    * — the max of per-class structs, classes being sorted. Materialize
    * this ONCE (own select) and decode with [[predClass]]/[[predScore]]:
    * the per-class folds are the whole cost, and a single projection
    * that uses both outputs would otherwise evaluate them twice (the
    * lambda fold keeps this Project out of whole-stage codegen, so
    * nothing downstream deduplicates the subtrees). */
  def best(text: Column, m: Model): Column =
    array_max(array(m.classes.zipWithIndex.map { case (c, i) =>
      struct(score(text, m, c).as("s"), lit(-i).as("nidx"))
    }: _*))

  /** Class name out of a materialized [[best]] struct. */
  def predClass(b: Column, m: Model): Column =
    element_at(typedlit(m.classes), -b.getField("nidx") + 1)

  /** Winning score out of a materialized [[best]] struct. */
  def predScore(b: Column): Column = b.getField("s")

  /** One-shot (predicted class, score) for single-output callers; query
    * plans wanting both should go through [[best]] to score once. */
  def predict(text: Column, m: Model): (Column, Column) = {
    val b = best(text, m)
    (predClass(b, m), predScore(b))
  }
}
