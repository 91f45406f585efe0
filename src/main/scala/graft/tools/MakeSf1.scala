package graft.tools

import org.apache.spark.sql.functions._

/** Synthesizes an sf1-equivalent corpus from the sf0.1 parquet by
  * union-with-key-offset: every scaled table is replicated `Copies`
  * times with all key columns shifted by `rep * Delta`, preserving
  * referential integrity across tables (the same delta applies to a
  * key domain wherever it appears: `o_custkey` moves with `c_custkey`,
  * `l_orderkey` with `o_orderkey`, `user_id` with the event key
  * domain, …). `region`/`nation` are fixed dimensions in TPC-H and are
  * copied as-is — their keys are referenced by the scaled tables and
  * must not move.
  *
  * Replicated document TEXT gets a per-replica Caesar shift
  * (`translate` over the rotated alphabet): within one replica the
  * shift is an isomorphism, so every replica family keeps the
  * original corpus's near-dup structure exactly (shingle sets,
  * simhash collisions, jaccard scores are shift-invariant in shape),
  * while cross-replica similarity is destroyed — near-dup PAIR counts
  * grow linearly with the corpus, like a real corpus, instead of
  * quadratically in the copy factor (exact ×10 copies make every doc
  * pair with its 9 clones: the pair OUTPUT itself explodes ×45, which
  * benchmarks the data, not the plan — measured as a 31× time blowup
  * in dedup_embedding before this fix). Embedding replicas get the
  * same treatment via a per-replica CIRCULAR SHIFT of the dimensions:
  * an isometry within a replica (all dots/distances preserved, so
  * each replica family keeps the original near-dup structure
  * exactly) that decorrelates vectors across replicas.
  * `BENCH_sf1.json` is produced by running `graft.Bench` with
  * `SPARK_GRAFT_SF_DIR` pointed at the output.
  *
  * The multiplier is a parameter (sf10 = 100 copies of sf0.1), and both
  * transform families stay injective past their naive period:
  *   - text: an AFFINE cipher x → a·x + b (mod 26) per replica — b
  *     cycles the 26 shifts, a walks the 12 units of ℤ/26, giving 312
  *     distinct letter bijections (a pure Caesar family repeats at
  *     r = 26, making replicas 0/26/52/78 EXACT copies — the quadratic
  *     pair blowup this file exists to avoid). a = 1 for r < 26, so
  *     sf1 output is bit-identical to the original Caesar form.
  *   - embeddings: circular shift k = 7r mod 64 (period 64), NEGATED
  *     for odd r/64 — negation is itself an isometry (dots within a
  *     replica are preserved), and it separates r from r+64, which
  *     share a shift (cos(v_r, v_{r+64}) = −1: ranked last by every
  *     cosine query, never a near-dup). 128 distinct isometries;
  *     r < 64 is unchanged from the sf1 form.
  *
  * Usage: runMain graft.tools.MakeSf1 [inDir] [outDir] [copies]
  * (defaults: /root/testdata/sf0.1 → target/sf1 × 10;
  *  sf10: runMain graft.tools.MakeSf1 /root/testdata/sf0.1 target/sf10 100)
  */
object MakeSf1 {
  val Delta = 10000000L

  /** Key columns to shift per scaled table; tables absent here are
    * fixed dimensions and copied unchanged. */
  val keyCols: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  def main(args: Array[String]): Unit = {
    val in = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "target/sf1"
    val copies = if (args.length > 2) args(2).toInt else 10
    val spark = graft.Sessions.local()
    graft.Tables.names.foreach { name =>
      val base = spark.read.parquet(s"$in/$name.parquet")
      val scaled = keyCols.get(name) match {
        case Some(keys) =>
          val reps = base.withColumn("rep",
            explode(sequence(lit(0L), lit(copies - 1L))))
          val shifted = keys.foldLeft(reps) { (df, k) =>
            df.withColumn(k, col(k) + col("rep") * Delta)
          }
          val transformed =
            if (name == "documents") {
              require(copies <= 312, s"affine cipher family has 312 members, got $copies")
              val abc = "abcdefghijklmnopqrstuvwxyz"
              val units = Seq(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)
              // replica r's letter bijection: position i → a·i + b (mod 26)
              def affine(r: Int) = {
                val (a, b) = (units(r / 26), r % 26)
                (0 until 26).map(i => abc((a * i + b) % 26)).mkString
              }
              val shiftedText = (1 until copies).foldLeft(col("text")) {
                (acc, r) =>
                  when(col("rep") === r,
                    translate(col("text"),
                      abc + abc.toUpperCase,
                      affine(r) + affine(r).toUpperCase)).otherwise(acc)
              }
              shifted.withColumn("text", shiftedText)
            } else if (name == "embeddings") {
              val dim = 64
              require(copies <= 2 * dim, s"shift×negate family has ${2 * dim} members, got $copies")
              val rolled = (1 until copies).foldLeft(col("embedding")) {
                (acc, r) =>
                  val k = (r * 7) % dim // shifts distinct within each half-period
                  val sign = if ((r / dim) % 2 == 1) "-" else ""
                  when(col("rep") === r, expr(
                    s"transform(concat(slice(embedding, ${k + 1}, ${dim - k}), " +
                      s"slice(embedding, 1, $k)), x -> ${sign}x)")).otherwise(acc)
              }
              shifted.withColumn("embedding", rolled)
            } else shifted
          transformed.drop("rep")
        case None => base
      }
      // realistic splittable layout: a production corpus arrives as
      // many files/row groups, never as one unsplittable blob — write
      // the big tables as 16 files so scan stages parallelize the way
      // they would on a real cluster (tiny dims stay single-file)
      val nFiles = if (Seq("lineitem", "orders", "events", "documents",
        "embeddings", "customer", "part").contains(name))
        16 * math.max(1, copies / 10) else 1
      scaled.repartition(nFiles)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
      System.err.println(s"[make-sf1] $name: ${spark.read.parquet(s"$out/$name.parquet").count()} rows")
    }
    spark.stop()
  }
}
