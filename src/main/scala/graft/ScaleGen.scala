package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-rehearsal data generator: blows a testdata directory up N× by
  * unioning id-shifted copies, preserving the per-copy statistical
  * structure (skew, dup rate, text/vector similarity topology) while
  * keeping copies DISJOINT, so operator cost is tested at N× rows
  * without manufacturing N²-pathologies the base corpus doesn't have:
  *
  *  - every key/foreign-key column shifts by `copy × 10_000_000`
  *    consistently across tables, so all joins keep working and stay
  *    clear of the query-side id arithmetic (augmentedDocs' +1e6,
  *    d1's +2e6 — the largest base id is ~1.5e5);
  *  - document text gets a per-copy token suffix (`foo` → `fooc3`),
  *    so within-copy shingle/minhash/near-dup structure is IDENTICAL
  *    to the base corpus while cross-copy similarity is zero — naive
  *    duplication would instead put every doc in a 10-member LSH
  *    bucket and quadratically inflate the candidate stage, testing
  *    an artifact of the generator rather than the operator;
  *  - embeddings get deterministic per-copy elementwise noise
  *    (±0.12 uniform vs elem RMS ≈ 0.13 ⇒ cross-copy cosine ≈ 0.8),
  *    same rationale: copy-0 keeps the exact base vectors so
  *    `vec_id < 20` query sets stay fixed while the corpus grows;
  *  - `region`/`nation` stay verbatim (bounded dimensions — at any
  *    scale factor these stay 5/25 rows, which is exactly why the
  *    engine broadcasts them).
  *
  * Usage: `runMain graft.ScaleGen <inDir> <outDir> [copies=10]`.
  */
object ScaleGen {

  private val Off = 10000000L

  def main(args: Array[String]): Unit = {
    val inDir = args(0)
    val outDir = args(1)
    val copies = if (args.length > 2) args(2).toInt else 10
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Graft.localSession("scale-gen", cpus, cpus)

    def write(df: DataFrame, name: String): Unit =
      df.repartition(cpus).write.mode("overwrite")
        .parquet(s"$outDir/$name.parquet")

    for (t <- Seq("region", "nation"))
      spark.read.parquet(s"$inDir/$t.parquet").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")

    /** Union of `copies` id-shifted variants; copy 0 is the base verbatim. */
    def blow(name: String, shiftCols: Seq[String],
        textCols: Seq[String] = Nil, embCols: Seq[String] = Nil): Unit = {
      val base = spark.read.parquet(s"$inDir/$name.parquet")
      val parts = (0 until copies).map { i =>
        var df = base
        for (c <- shiftCols) df = df.withColumn(c, col(c) + lit(i * Off))
        if (i > 0) {
          // per-copy token suffix: same normToksSql token class the text
          // operators shingle on, so every token lands in copy-i's
          // disjoint vocabulary
          for (c <- textCols)
            df = df.withColumn(c, regexp_replace(col(c), "[a-zA-Z0-9']+", s"$$0c$i"))
          // deterministic elementwise noise in [-0.12, 0.12]; seeds on
          // (copy, id, dim) so re-runs are bit-identical
          for (c <- embCols)
            df = df.withColumn(c,
              zip_with(col(c),
                transform(sequence(lit(1), size(col(c))), d =>
                  ((pmod(xxhash64(lit(i), col(shiftCols.head), d), lit(2001L)) - 1000L)
                    .cast("float") / 1000.0f) * 0.12f),
                (x, nz) => x + nz))
        }
        df
      }
      write(parts.reduce(_ unionByName _), name)
    }

    blow("customer", Seq("c_custkey"))
    blow("supplier", Seq("s_suppkey"))
    blow("part", Seq("p_partkey"))
    blow("orders", Seq("o_orderkey", "o_custkey"))
    blow("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    blow("events", Seq("event_id", "user_id"))
    blow("documents", Seq("doc_id"), textCols = Seq("text"))
    blow("embeddings", Seq("vec_id"), embCols = Seq("embedding"))
    spark.stop()
  }
}
