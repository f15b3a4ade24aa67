package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Checkpoints.materialize

/** Edit-distance similarity self-join — character-level, metric-
  * guaranteed: all pairs with levenshtein(s, t) ≤ k, found without
  * the O(n²) verify the scalar function alone would need.
  *
  * The filter stack is Ed-Join's (Xiao, Wang & Lin, "Ed-Join: an
  * efficient algorithm for similarity joins with edit distance
  * constraints", VLDB 2008): one edit operation destroys at most q
  * positional q-grams, so |G(s) ∩ G(t)| ≥ max(|G(s)|, |G(t)|) − q·k,
  * and by the prefix-filtering lemma two strings within distance k
  * must share a gram among each side's q·k + 1 RAREST grams (global
  * document-frequency order, gram text as tie-break). The candidate
  * join therefore touches only prefix grams; a length filter
  * (||s|−|t|| ≤ k) rides the join; verification runs Spark's codegen
  * `levenshtein` on candidates only.
  *
  * The guarantee needs the LONGER string to have at least q·k + 1
  * grams (length ≥ q·(k+1)); pairs where BOTH sides are shorter than
  * that cutoff fall through the gram algebra entirely and are joined
  * all-pairs in a separate short pool — bounded by the corpus's
  * sub-cutoff length mass (for q=3, k=2 that is strings under 9
  * chars), and AQE broadcasts it when it is as small as it should
  * be. The two pools are disjoint by the max-length predicate, so no
  * candidate is verified twice.
  *
  * Returns (id1, id2, dist) with id1 < id2, dist ≤ k. */
object EditJoin {

  def editJoin(df: DataFrame, id: Column, str: Column,
               k: Int, q: Int = 3): DataFrame = {
    require(k >= 1, "editJoin: k must be >= 1")
    require(q >= 2, "editJoin: q must be >= 2")
    val base = materialize(
      df.select(id.cast("long").as("id"), str.cast("string").as("s"))
        .filter(col("s").isNotNull)
        .withColumn("len", length(col("s"))))
    val cutoff = q * (k + 1)

    // both-short pool: the gram bound is vacuous below the cutoff
    val shorts = base.filter(col("len") < cutoff)
    val shortPairs = shorts.as("x").join(shorts.as("y"),
        col("x.id") < col("y.id") &&
          abs(col("x.len") - col("y.len")) <= k)
      .select(col("x.id").as("id1"), col("y.id").as("id2"))

    // rarest-gram prefixes (ties on gram text keep the order total)
    val grams = base.select(col("id"), col("len"),
      explode(array_distinct(expr(
        s"transform(sequence(1, greatest(len - ${q - 1}, 1)), " +
          s"i -> substring(s, i, $q))"))).as("g"))
    val gdf = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
    val prefix = grams.join(gdf, "g")
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("df"), col("g"))))
      .filter(col("rnk") <= q * k + 1)
      .select(col("id"), col("len"), col("g"))
    val gramPairs = prefix.as("x").join(prefix.as("y"),
        col("x.g") === col("y.g") && col("x.id") < col("y.id") &&
          abs(col("x.len") - col("y.len")) <= k &&
          greatest(col("x.len"), col("y.len")) >= cutoff)
      .select(col("x.id").as("id1"), col("y.id").as("id2"))
      .distinct()

    gramPairs.unionByName(shortPairs)
      .join(base.select(col("id").as("id1"), col("s").as("s1")), "id1")
      .join(base.select(col("id").as("id2"), col("s").as("s2")), "id2")
      .select(col("id1"), col("id2"),
        levenshtein(col("s1"), col("s2")).cast("long").as("dist"))
      .filter(col("dist") <= k)
  }
}
