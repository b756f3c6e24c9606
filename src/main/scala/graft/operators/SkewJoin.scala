package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Explicit salting for skew-heavy equi-joins — the manual escape hatch
  * when AQE's skew-join split can't help (e.g. the skew is in a
  * broadcast-ineligible build side, or the join feeds an operator AQE
  * won't re-plan). At 100 TB a single hot key (the null-ish default
  * tenant, the empty-string folder) can pin an entire executor; salting
  * spreads that key's rows across `salts` reducers.
  *
  * Salting is applied to HOT KEYS ONLY: keys whose left-side row count
  * reaches `hotThreshold` are salted (and only their right-side rows are
  * replicated `salts`×); everything else takes the plain join. The naive
  * global variant — salt all of left, replicate all of right — makes the
  * entire join pay `salts`× right-side shuffle volume to fix a handful of
  * keys; here the extra shuffle volume is `salts × |right rows on hot
  * keys|`, which is by definition the small side of the skew. Detection is
  * one exact partial-aggregated count over the left keys; the surviving
  * hot-key set is bounded by `|left| / hotThreshold` rows, so it always
  * broadcasts, and the hot/cold split of both inputs is broadcast
  * semi/anti joins — no extra shuffle of either input.
  *
  * The salt is a deterministic per-row hash of the whole left row — not a
  * random number — so the operator stays idempotent and retry-safe
  * (Spark task retries recompute identical salts; a rand() salt would
  * silently duplicate/drop rows on stage retry, the classic trap).
  */
object SkewJoin {

  private val SaltCol = "_salt"

  /** Inner equi-join on `keys`, salting only the keys whose left row count
    * is ≥ `hotThreshold`. Result is row-for-row identical to
    * `left.join(right, keys)` — multiplicities included.
    *
    * `hotThreshold` defaults to 2M rows: below that a single reducer
    * handles the key comfortably; above it the key dominates its
    * partition. Callers that already know the hot keys (e.g. from a
    * [[graft.functions.CountMin]] sweep on a previous batch) can pass
    * them via the `hotKeys` overload and skip the counting pass.
    */
  def saltedInnerJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      salts: Int = 8, hotThreshold: Long = 2000000L): DataFrame = {
    require(salts >= 1, "salts must be >= 1")
    if (salts == 1) return left.join(right, keys)
    // Eagerly materialized (it is tiny by construction) so the 4 reuses in
    // the split don't recompute the counting scan.
    val hot = left.groupBy(keys.map(col): _*).agg(count(lit(1)).as("_hot_n"))
      .filter(col("_hot_n") >= hotThreshold)
      .select(keys.map(col): _*)
      .localCheckpoint(true)
    saltedInnerJoin(left, right, keys, salts, hot)
  }

  /** As above with a caller-supplied hot-key frame (columns = `keys`).
    * The frame must be small enough to broadcast — which any honest
    * hot-key set is (a key is only hot because many rows share it).
    */
  def saltedInnerJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      salts: Int, hotKeys: DataFrame): DataFrame = {
    require(salts >= 1, "salts must be >= 1")
    require(!left.columns.contains(SaltCol) && !right.columns.contains(SaltCol),
      s"inputs must not contain the reserved column $SaltCol")
    if (salts == 1) return left.join(right, keys)
    // No hot keys → the plain join, with zero salting overhead. The check
    // is one action over a bounded frame, paid once at plan-build time.
    if (hotKeys.isEmpty) return left.join(right, keys)
    val s = split(left, right, keys, salts, hotKeys)
    // Cold path first so the common (unskewed) case drives the output
    // partitioning; unionByName guards against join-output column-order
    // drift between the two branches.
    s.cold.unionByName(s.hot)
  }

  /** The two join branches, exposed for tests: `cold` is the plain join of
    * the non-hot keys (right side NOT replicated); `hot` is the salted
    * join of the hot keys only.
    */
  private[graft] case class Branches(cold: DataFrame, hot: DataFrame,
    rightHot: DataFrame, rightCold: DataFrame)

  private[graft] def split(left: DataFrame, right: DataFrame, keys: Seq[String],
      salts: Int, hotKeys: DataFrame): Branches = {
    val hk = broadcast(hotKeys.select(keys.map(col): _*))
    val leftHot = left.join(hk, keys, "left_semi")
    val leftCold = left.join(hk, keys, "left_anti")
    val rightHot = right.join(hk, keys, "left_semi")
    val rightCold = right.join(hk, keys, "left_anti")
    val lh = leftHot.withColumn(SaltCol,
      pmod(xxhash64(left.columns.map(col): _*), lit(salts)))
    val rh = rightHot.withColumn(SaltCol,
      explode(array((0 until salts).map(s => lit(s)): _*)))
    Branches(
      cold = leftCold.join(rightCold, keys),
      hot = lh.join(rh, keys :+ SaltCol).drop(SaltCol),
      rightHot = rightHot, rightCold = rightCold)
  }
}
