package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The decontamination rule, defined once for the batch gates
  * (`x_decontaminate_apply`, `x_contamination_report`, the decontam stage
  * of `x_pipeline_e2e`) and the at-ingest screen
  * ([[graft.streaming.StreamContamination]]):
  *   - a document's fingerprints are its distinct winnow window-mins
  *     ([[docFingerprints]], the [[WinnowExprs]] native kernel);
  *   - the eval split is `id % EvalMod == 0`, the rest is train
  *     ([[evalSplit]], [[trainSplit]]);
  *   - a train doc is contaminated when MORE than `DecontamRatio` of its
  *     fingerprints appear in the eval fingerprint set ([[contaminated]]).
  *     A doc with no hits, or with no fingerprints at all, shows no
  *     evidence and is never dropped.
  * The oracle SQL interpolates the same constants.
  */
object Contamination {

  val WinnowK = 5 // winnowing: char k-gram width
  val WinnowW = 4 // winnowing: min-window width (guarantee gap t = W+K-1)
  val EvalMod = 100 // eval set = doc_id % EvalMod == 0
  val DecontamRatio = 0.8 // drop train doc if > ratio of its fps hit eval

  /** (`id`, `fp`): one row per distinct winnow fingerprint of each doc. */
  def docFingerprints(df: DataFrame, id: String, text: String): DataFrame =
    df.select(col(id), explode(array_distinct(
      WinnowExprs.winnowMinsNative(col(text), WinnowK, WinnowW))).as("fp"))

  def evalSplit(df: DataFrame, id: String): DataFrame =
    df.filter(col(id) % EvalMod === 0)

  def trainSplit(df: DataFrame, id: String): DataFrame =
    df.filter(col(id) % EvalMod =!= 0)

  /** The distinct `fp` set of the eval docs of an (`id`, `fp`) frame. */
  def evalFps(fps: DataFrame, id: String): DataFrame =
    evalSplit(fps, id).select(col("fp")).distinct()

  /** The `id`s of the (`id`, `fp`) frame `train` whose share of
    * fingerprints found in `evalFps` exceeds [[DecontamRatio]]. The eval
    * set is broadcast (an eval suite is MBs where the corpus is TBs); the
    * result is O(contaminated docs), so callers join it un-hinted. */
  def contaminated(train: DataFrame, evalFps: DataFrame, id: String)
      : DataFrame = {
    val hits = train.join(broadcast(evalFps), Seq("fp"), "left_semi")
      .groupBy(col(id)).agg(count(lit(1)).as("_hit"))
    val sizes = train.groupBy(col(id)).agg(count(lit(1)).as("_nf"))
    sizes.join(hits, id)
      .filter(col("_hit").cast("double") / col("_nf") > DecontamRatio)
      .select(col(id))
  }
}
