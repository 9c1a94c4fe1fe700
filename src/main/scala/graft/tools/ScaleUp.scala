package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthetic scale-up of a driver testdata directory: writes a K×
  * corpus by unioning K structure-preserving copies of each table —
  * the input for the heavy-family scaling probes (bench at sf1 from
  * sf0.1) that SCALE.md's 100× story rests on.
  *
  * Copy discipline (the point is that per-copy ANALYTICS are preserved
  * while CROSS-copy artifacts don't explode):
  *
  *  - TPC-H keys, event ids, doc/vec ids are offset by copy·10^9 —
  *    join fan-outs, group cardinalities per copy, and time predicates
  *    are unchanged; id spaces never collide.
  *  - `documents.text`: every NON-stopword token gets a per-copy
  *    suffix (`tok_c3`). Within-copy token-set Jaccard is EXACTLY
  *    preserved (injective token bijection), the quality column is
  *    exactly preserved (stopword and digit ratios untouched), and
  *    cross-copy near-dup pairs cannot form at the registered
  *    thresholds (copies share only stopwords — J ≈ 6/union, far
  *    under 0.5+). Cross-copy overlap at VERY low thresholds (x11's
  *    0.15) is pure stopword overlap — exactly the class the df-cap
  *    already disclaims. `n_chars` is recomputed from the new text.
  *  - `embeddings.embedding`: elementwise per-copy ±1 sign flips
  *    (deterministic hash of (copy, dim)). Within one copy both
  *    vectors carry the SAME flips, so every dot product — hence every
  *    cosine, every LSH bucket relation — is exactly preserved
  *    (s_i² = 1); across copies the signs decorrelate the vectors, so
  *    cross-copy semantic pairs don't form. Copy 0 is byte-identical
  *    to the source for both tables.
  *
  * Usage: runMain graft.tools.ScaleUp <srcDir> <outDir> <k>
  */
object ScaleUp {
  val IdOffset = 1000000000L

  private def withSuffixedTokens(df: DataFrame, c: Int): DataFrame =
    if (c == 0) df
    else {
      val stop = graft.pipeline.TextStats.Stopwords
      df.withColumn("text",
          concat_ws(" ", transform(split(col("text"), " "),
            t => when(t.isin(stop: _*), t).otherwise(concat(t, lit(s"_c$c"))))))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }

  private def withFlippedSigns(df: DataFrame, c: Int): DataFrame =
    if (c == 0) df
    else df.withColumn("embedding",
      // Deterministic ±1 per (copy, dim): xxhash of the pair, low bit.
      zip_with(col("embedding"),
        transform(sequence(lit(0), size(col("embedding")) - 1),
          d => when(pmod(xxhash64(lit(c), d), lit(2)) === 0, lit(1.0f))
            .otherwise(lit(-1.0f))),
        (x, s) => x * s))

  private def offsetCols(df: DataFrame, c: Int, cols: Seq[String]): DataFrame =
    if (c == 0) df
    else cols.foldLeft(df)((d, n) =>
      d.withColumn(n, col(n) + lit(c * IdOffset)))

  def scaleTable(s: SparkSession, srcDir: String, name: String, k: Int): DataFrame = {
    val base = s.read.parquet(s"$srcDir/$name.parquet")
    val idCols: Seq[String] = name match {
      case "region" | "nation" => Seq.empty // dims stay ×1 (always broadcast)
      case "customer" => Seq("c_custkey")
      case "supplier" => Seq("s_suppkey")
      case "part" => Seq("p_partkey")
      case "orders" => Seq("o_orderkey", "o_custkey")
      case "lineitem" => Seq("l_orderkey", "l_partkey", "l_suppkey")
      case "events" => Seq("event_id", "user_id")
      case "documents" => Seq("doc_id")
      case "embeddings" => Seq("vec_id")
      case other => throw new IllegalArgumentException(s"unknown table $other")
    }
    if (idCols.isEmpty) base
    else (0 until k).map { c =>
      val shifted = offsetCols(base, c, idCols)
      name match {
        case "documents" => withSuffixedTokens(shifted, c)
        case "embeddings" => withFlippedSigns(shifted, c)
        case _ => shifted
      }
    }.reduce(_.union(_))
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: ScaleUp <srcDir> <outDir> <k>")
    val Array(srcDir, outDir, kArg) = args
    val k = kArg.toInt
    val spark = graft.Engine.session("graft-scale-up")
    spark.sparkContext.setLogLevel("WARN")
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      scaleTable(spark, srcDir, t, k)
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      println(s"[scaleup] $t done")
    }
    spark.stop()
  }
}
