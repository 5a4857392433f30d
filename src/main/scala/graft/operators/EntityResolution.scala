package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Blocked probabilistic record linkage (Fellegi & Sunter 1969): decide
  * which record pairs across two sources refer to the same real-world
  * entity. Two structural commitments make this scale:
  *
  *  1. **Blocking**: candidate pairs come ONLY from an equi-join on the
  *     block key — never the cross product. All-pairs comparison of two
  *     100 TB sources is the O(n·m) failure mode; blocked linkage is
  *     O(Σ |block_a|·|block_b|), bounded by the blocking choice and
  *     guarded here (`maxBlock`) so a degenerate block fails fast.
  *  2. **Field-weighted scoring**: each compared field contributes a
  *     log-odds weight (agreement +log(m/u), disagreement −log((1-m)/
  *     (1-u)) in the classic formulation — passed in as per-field score
  *     expressions so callers encode their own m/u estimates), summed
  *     into a match score thresholded into link / non-link.
  *
  * The caller writes field scores against suffixed column names:
  * `left` columns appear as `<name>_a`, `right` as `<name>_b` (block
  * columns keep their bare names). */
object EntityResolution {

  /** Score candidate pairs: suffix-rename both sides, equi-join on
    * `blockCols`, add `score` = sum of `fieldScores`, keep pairs with
    * `score >= threshold`. */
  def link(left: DataFrame, right: DataFrame, blockCols: Seq[String],
      fieldScores: Seq[Column], threshold: Double,
      maxBlock: Long = 100000L): DataFrame = {
    require(blockCols.nonEmpty, "blockCols must be non-empty")
    require(fieldScores.nonEmpty, "fieldScores must be non-empty")
    require(maxBlock > 0, "maxBlock must be positive")
    def suffixed(df: DataFrame, s: String): DataFrame =
      df.columns.filterNot(blockCols.contains)
        .foldLeft(df)((d, c) => d.withColumnRenamed(c, s"$c$s"))
    val l = suffixed(left, "_a")
    val counts = left.groupBy(blockCols.map(col): _*)
      .agg(count(lit(1)).as("__bl"))
      .join(right.groupBy(blockCols.map(col): _*)
        .agg(count(lit(1)).as("__br")), blockCols)
    // the pair-count product is taken in DOUBLE: two multi-billion-row
    // block counts overflow a LONG product and would wrap negative,
    // silently passing the guard in exactly the case it exists to catch
    val pairCount = col("__bl").cast("double") * col("__br").cast("double")
    val guarded = l.join(broadcast(counts), blockCols)
      .where(OpsUtil.orRaise(pairCount <= maxBlock.toDouble,
        lit("EntityResolution.link: block "),
        concat_ws(",", blockCols.map(col): _*),
        lit(" yields "), pairCount.cast("decimal(38,0)").cast("string"),
        lit(s" candidate pairs (> maxBlock=$maxBlock); refine the blocking key")))
      .drop("__bl", "__br")
    guarded.join(suffixed(right, "_b"), blockCols)
      .withColumn("score", fieldScores.reduce(_ + _))
      .filter(col("score") >= threshold)
  }

  /** Linkage-quality summary against a known truth predicate (available
    * in evaluation settings where a shared key survives): precision and
    * recall of the thresholded links. `truePair` is evaluated on the
    * suffixed pair frame; `truthTotal` is a 1-row frame whose `n_true`
    * column is the total number of true pairs (the recall denominator,
    * counted independently of blocking so missed-by-blocking pairs hurt
    * recall, as they should). A frame rather than a driver value keeps
    * the whole eval one job (a driver-side `.count()` for the
    * denominator would run the truth side's full lineage as a separate
    * action). */
  def evalLinksAgainst(links: DataFrame, truePair: Column,
      truthTotal: DataFrame): DataFrame =
    links.agg(
      count(lit(1)).as("n_links"),
      sum(when(truePair, 1L).otherwise(0L)).as("n_correct"))
      .crossJoin(broadcast(truthTotal))
      .select(col("n_links"), col("n_correct"), col("n_true"),
        round(col("n_correct").cast("double") / col("n_links").cast("double"), 6)
          .as("precision"),
        round(col("n_correct").cast("double") / col("n_true").cast("double"), 6)
          .as("recall"))

  /** Nearest-neighbor score matching within a caliper — propensity-score
    * matching WITH replacement (Rosenbaum & Rubin 1983's NN variant):
    * every treated unit pairs to the control whose score is closest,
    * provided the gap is within `caliper`; unmatched treated units drop
    * (the standard caliper discipline — a forced distant match biases
    * the effect estimate more than the dropped unit does).
    *
    * This is the blocking idiom applied to a CONTINUOUS key: scores
    * bucket at `caliper` width, treated rows probe their own bucket ±1
    * (any control within the caliper lives there by construction), and
    * the winner per treated unit is the (|gap|, control-id)-minimum —
    * deterministic under score ties. Returns the match frame
    * `(treated_id, control_id, t_score, c_score, abs_diff)`; callers
    * aggregate balance/effect on top.
    *
    * Scale shape: candidates come ONLY from the 3-bucket equi-join —
    * never treated × control — so cost is O(Σ|bucket|²) like every
    * candidate generator here; `maxBucket` fail-fasts a degenerate
    * score distribution (all mass in one bucket ⇒ quadratic blowup)
    * before the shuffle explodes. Winner-per-treated is the
    * window-group-limit shape. */
  def nearestScoreMatch(treated: DataFrame, control: DataFrame,
      idCol: String, scoreCol: Column, caliper: Double,
      maxBucket: Long = 100000L): DataFrame = {
    require(caliper > 0, "caliper must be positive")
    import org.apache.spark.sql.expressions.Window
    def side(df: DataFrame, id: String, sc: String): DataFrame = df
      .select(col(idCol).as(id), scoreCol.cast("double").as(sc))
      .filter(col(id).isNotNull && col(sc).isNotNull)
      .withColumn("__b", floor(col(sc) / lit(caliper)).cast("long"))
    val c = side(control, "control_id", "c_score")
    val sizes = c.groupBy(col("__b")).agg(count(lit(1)).as("__bn"))
    val guarded = c.join(broadcast(sizes), Seq("__b"))
      .where(OpsUtil.orRaise(col("__bn") <= maxBucket,
        lit("nearestScoreMatch: control score bucket "), col("__b"),
        lit(s" holds more than maxBucket=$maxBucket rows; shrink the " +
          "caliper or raise maxBucket")))
      .select(col("__b"), col("control_id"), col("c_score"))
    val t = side(treated, "treated_id", "t_score")
      .withColumn("__off", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("__b", col("__b") + col("__off"))
      .select(col("__b"), col("treated_id"), col("t_score"))
    val w = Window.partitionBy(col("treated_id"))
      .orderBy(col("abs_diff").asc, col("control_id").asc)
    t.join(guarded, Seq("__b"))
      .withColumn("abs_diff", abs(col("t_score") - col("c_score")))
      .filter(col("abs_diff") <= caliper)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("treated_id"), col("control_id"), col("t_score"),
        col("c_score"), round(col("abs_diff"), 6).as("abs_diff"))
  }
}
