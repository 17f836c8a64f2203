package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Market-basket co-occurrence mining — frequent item pairs and
  * association rules (support / confidence / lift), the level-2
  * A-priori pass. Recommender-adjacent pipelines use this as the
  * cheap co-occurrence prior next to the trained model.
  *
  * Scale shape: the pair generation is a self-join keyed on the
  * BASKET, so comparisons are Σ basket_size² — bounded by the largest
  * basket, never corpus² — and the join is a plain hash-partitioned
  * equi-join. Item supports are one hash agg; the rule assembly joins
  * pair supports to the (items-sized) support relation twice, both
  * joins on item keys. Nothing is collected; the basket count is the
  * only scalar. A pathological basket (one key holding thousands of
  * items) inflates its own partition quadratically — `maxBasketSize`
  * drops such baskets explicitly (default 1000), which is also the
  * statistically sane choice: a basket that large is a bot or a feed,
  * not a signal.
  */
object Basket {

  /** Distinct (basket, item) pairs with oversized baskets removed.
    *
    * ONE basket-keyed exchange serves the whole derivation (§2.4):
    * hash-partitioning on `b` satisfies the clustering requirement of
    * the (b, i) distinct, the basket-size aggregation, the cap
    * semi-join, AND the downstream pair self-join on `b` — without the
    * explicit repartition each of those re-shuffled the relation on
    * its own key mix (measured on q_assoc_rules: gate build 3.3 →
    * see OPTIMIZATION_r14.md).
    */
  private def items(df: DataFrame, basketCol: String, itemCol: String,
      maxBasketSize: Int): DataFrame = {
    val it = df.select(col(basketCol).as("b"), col(itemCol).as("i"))
      // a null item is not an item: it must neither pair nor count
      // toward the basket-size cap
      .where(col("b").isNotNull && col("i").isNotNull)
      .repartition(col("b"))
      .distinct()
    val ok = it.groupBy("b").agg(count(lit(1)).as("_sz"))
      .where(col("_sz") <= maxBasketSize).select("b")
    it.join(ok, Seq("b"), "left_semi")
  }

  private def pairsOf(it: DataFrame, minSupport: Long): DataFrame = {
    val a = it.select(col("b"), col("i").as("item_a"))
    val c = it.select(col("b"), col("i").as("item_b"))
    a.join(c, a("b") === c("b") && col("item_a") < col("item_b"))
      .groupBy("item_a", "item_b")
      .agg(count(lit(1)).as("pair_sup"))
      .where(col("pair_sup") >= minSupport)
  }

  /** Item pairs co-occurring in ≥ `minSupport` baskets:
    * (`item_a` < `item_b`, `pair_sup`).
    */
  def frequentPairs(df: DataFrame, basketCol: String, itemCol: String,
      minSupport: Long, maxBasketSize: Int = 1000): DataFrame = {
    require(minSupport >= 1, s"minSupport must be >= 1, got $minSupport")
    require(maxBasketSize >= 2, s"maxBasketSize must be >= 2, got $maxBasketSize")
    pairsOf(items(df, basketCol, itemCol, maxBasketSize), minSupport)
  }

  /** Association rules for the frequent pairs: confidence in both
    * directions and lift (support·N / (sup_a·sup_b)), full-precision
    * doubles — quantization is the caller's presentation concern, and
    * a decimal round(x, d) here is the cross-engine flake class when
    * an external oracle re-derives these ratios.
    *
    * The result is persisted (it must be materialized before the
    * internal capped-item relation is released); the CALLER owns that
    * cache — call `.unpersist()` when done with it in long-lived
    * sessions.
    */
  def rules(df: DataFrame, basketCol: String, itemCol: String,
      minSupport: Long, maxBasketSize: Int = 1000): DataFrame = {
    require(minSupport >= 1, s"minSupport must be >= 1, got $minSupport")
    require(maxBasketSize >= 2, s"maxBasketSize must be >= 2, got $maxBasketSize")
    // ONE deduped/capped relation feeds the basket count, the item
    // supports, and the pair mining — recomputing it per consumer
    // would run the distinct + cap pipeline three times. The cache is
    // released in the finally below, so the result is materialized
    // eagerly first (it is support-pruned: small by construction).
    val it = items(df, basketCol, itemCol, maxBasketSize)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nBaskets = it.select(countDistinct(col("b"))).head().getLong(0)
      val sup = it.groupBy("i").agg(count(lit(1)).as("s"))
      val pairs = pairsOf(it, minSupport)
      val out = pairs
        .join(sup.select(col("i").as("item_a"), col("s").as("_sa")), Seq("item_a"))
        .join(sup.select(col("i").as("item_b"), col("s").as("_sb")), Seq("item_b"))
        .select(
          col("item_a"), col("item_b"), col("pair_sup"),
          // the exact integer inputs ride along so consumers (and
          // gates) can quantize confidence/lift in pure integer
          // arithmetic instead of re-rounding the double ratios
          col("_sa").as("sup_a"), col("_sb").as("sup_b"),
          lit(nBaskets).as("n_baskets"),
          (col("pair_sup") / col("_sa").cast("double")).as("conf_a_b"),
          (col("pair_sup") / col("_sb").cast("double")).as("conf_b_a"),
          (col("pair_sup") * nBaskets /
            (col("_sa") * col("_sb")).cast("double")).as("lift"))
      // consume `it` fully before releasing it
      Caching.handOff(out)
    } finally { it.unpersist(blocking = false); () }
  }
}
