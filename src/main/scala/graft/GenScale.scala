package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.LocalSession

/** Dev-only scale-up generator: replicate an existing testdata directory
  * `factor`× with consistent key remapping, for the SCALE.md run (the
  * driver's generator is not shipped; /root/testdata is read-only).
  *
  * Replication rules keep per-query work scaling LINEARLY with factor:
  *  - fact/dim keys offset by replica*max(key), so FK joins stay 1:N with
  *    the same fan-out (no cross-replica matches);
  *  - documents get a per-replica token prefix (exact-dedup md5s stay
  *    distinct) and an n_chars offset that puts each replica in its own
  *    jaccard blocking bucket — near-dup structure repeats per replica
  *    instead of exploding quadratically across identical copies;
  *  - embeddings rotate label by replica so identical vector copies fall
  *    outside the (cell, label) pair blocks; vec_ids 0..8 (query vector +
  *    centroids) stay unique to replica 0.
  * region/nation stay fixed (dimensions, like TPC-H).
  *
  * Known exception to linearity: SIMHASH banding (q120). Replicas of a
  * doc differ by one token, so their 64-bit fingerprints stay within the
  * Hamming radius by construction — they ARE near-duplicates, and a
  * near-dup detector finding them is correct output, not blowup; the
  * q120 SCALE.md record attributes its pair growth to exactly this.
  */
object GenScale {
  def main(args: Array[String]): Unit = {
    val (src, dst, factor) = (args(0), args(1), args(2).toInt)
    // optional 4th arg: replicate only these tables (e.g. "documents"
    // for the sf100 text-decade probe — a full sf100 would not fit the
    // sandbox, the text families under test only read documents).
    // Unlisted tables are skipped: symlink them from the source dir if
    // the destination must stay fully loadable.
    val subset: Option[Set[String]] =
      if (args.length > 3) Some(args(3).split(",").map(_.trim).toSet)
      else None
    def wanted(name: String): Boolean = subset.forall(_.contains(name))
    val spark = LocalSession(LocalSession.Default)

    def load(name: String): DataFrame = graft.core.Tables.load(spark, src, name)

    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head().getLong(0) + 1

    val custBase = maxOf(load("customer"), "c_custkey")
    val suppBase = maxOf(load("supplier"), "s_suppkey")
    val partBase = maxOf(load("part"), "p_partkey")
    val orderBase = maxOf(load("orders"), "o_orderkey")
    // one scan for both events maxes; one scan for all embeddings stats
    val evMax = load("events")
      .agg(max(col("event_id")), max(col("user_id"))).head()
    val (eventBase, userBase) = (evMax.getLong(0) + 1, evMax.getLong(1) + 1)
    val docStats = load("documents")
      .agg(max(col("doc_id")), max(col("n_chars"))).head()
    val docBase = docStats.getLong(0) + 1
    val embStats = load("embeddings")
      .agg(max(col("vec_id")), countDistinct(col("label"))).head()
    val (vecBase, nLabels) = (embStats.getLong(0) + 1, embStats.getLong(1))
    // invariant guards for the anti-cross-replica tricks below: the
    // n_chars offset stride must clear the CURRENT max (a second-decade
    // run scales a directory that already carries first-decade offsets,
    // so the stride grows with the input), and the label rotation
    // only separates identical vectors while factor <= nLabels
    val nCharsStride = math.max(1000L,
      (docStats.getLong(1) / 1000L + 1L) * 1000L)
    require(factor <= nLabels,
      s"factor $factor > $nLabels labels: identical embedding copies " +
        "would share (cell, label) blocks and pair-gen goes quadratic")

    /** Union `factor` remapped copies (replica column `_r` drives the
      * offsets, dropped on write).
      */
    def replicate(df: DataFrame)(remap: (DataFrame, org.apache.spark.sql.Column) => DataFrame): DataFrame = {
      val withR = df.crossJoin(
        spark.range(factor).select(col("id").as("_r")))
      remap(withR, col("_r")).drop("_r")
    }

    def offset(c: String, base: Long) =
      (r: org.apache.spark.sql.Column) => col(c) + r * base

    def write(name: String, df: => DataFrame): Unit = if (wanted(name)) {
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[genscale] $name: ${spark.read.parquet(s"$dst/$name.parquet").count()} rows")
    }

    // fixed dimensions
    write("region", load("region"))
    write("nation", load("nation"))

    write("customer", replicate(load("customer")) { (d, r) =>
      d.withColumn("c_custkey", offset("c_custkey", custBase)(r))
    })
    write("supplier", replicate(load("supplier")) { (d, r) =>
      d.withColumn("s_suppkey", offset("s_suppkey", suppBase)(r))
    })
    write("part", replicate(load("part")) { (d, r) =>
      d.withColumn("p_partkey", offset("p_partkey", partBase)(r))
    })
    write("orders", replicate(load("orders")) { (d, r) =>
      d.withColumn("o_orderkey", offset("o_orderkey", orderBase)(r))
        .withColumn("o_custkey", offset("o_custkey", custBase)(r))
    })
    write("lineitem", replicate(load("lineitem")) { (d, r) =>
      d.withColumn("l_orderkey", offset("l_orderkey", orderBase)(r))
        .withColumn("l_partkey", offset("l_partkey", partBase)(r))
        .withColumn("l_suppkey", offset("l_suppkey", suppBase)(r))
    })
    write("events", replicate(load("events")) { (d, r) =>
      d.withColumn("event_id", offset("event_id", eventBase)(r))
        .withColumn("user_id", offset("user_id", userBase)(r))
    })
    write("documents", replicate(load("documents")) { (d, r) =>
      d.withColumn("doc_id", offset("doc_id", docBase)(r))
        .withColumn("text", concat(lit("repl"), r, lit(" "), col("text")))
        .withColumn("n_chars", col("n_chars") + r * lit(nCharsStride))
    })
    write("embeddings", replicate(load("embeddings")) { (d, r) =>
      d.withColumn("vec_id", offset("vec_id", vecBase)(r))
        .withColumn("label",
          ((col("label") + r) % lit(nLabels)).cast("int"))
    })
    spark.stop()
  }
}
