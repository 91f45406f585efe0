package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.TextAnalysis.tokensSql

/** BPE-style subword vocabulary induction over the `documents` table —
  * the tokenizer-training step of an LLM data pipeline (Sennrich et
  * al. 2016). The classic algorithm is a loop: count adjacent symbol
  * pairs (frequency-weighted by word count), merge the most frequent
  * pair everywhere, repeat.
  *
  * Spark decomposition (the part that matters at 100 TB):
  *  - the corpus-scale work is ONE pass — `explode(tokens)` →
  *    `groupBy(word)` — collapsing 100 TB of text to a word-frequency
  *    table (vocab-sized, millions of rows at web scale, ~40 here).
  *    Every subsequent round touches only that table, never the
  *    corpus: this is why BPE training is feasible at all, and the
  *    code keeps that boundary explicit;
  *  - each merge round is one shuffle over the word table (pair
  *    explode → groupBy(pair) partial-agg) plus a 1-row collect of the
  *    argmax (the q65-style driver probe: the merge pair must become a
  *    literal in the next round's expression), then a map-only
  *    3×`replace` rewrite of the symbol strings. Driver state is the
  *    merge list itself — K rows;
  *  - per-round `localCheckpoint` truncates lineage so round k+1's
  *    plan does not grow with k (the q65/q70/ccContract iteration
  *    pattern).
  *
  * Determinism/oracle strategy (everything engine-exact):
  *  - words are symbolized as space-joined characters with a leading/
  *    trailing space sentinel (`" t a b l e "`) via
  *    `regexp_replace(w, '(.)', '$1 ')` — identical in DuckDB;
  *  - the argmax merge breaks frequency ties by the lexicographically
  *    smallest `lhs|rhs` pair string (binary collation both engines);
  *  - a merge is applied as a FIXED 3-pass left-to-right literal
  *    `replace(ws, " l r ", " lr ")`. Both engines' `replace` scans
  *    left-to-right non-overlapping, so the result is bit-identical.
  *    Pass 1 can skip an occurrence whose leading space was consumed
  *    by the previous match; the survivors are then flanked by merged
  *    symbols, so pass 2 always completes (pass 3 is margin). On runs
  *    of ≥3 identical-pair repeats this picks different occurrences
  *    than canonical greedy BPE (" a b a b a b " → the same three
  *    merges, but via " ab a b ab "); the learned VOCABULARY is
  *    well-defined and identical across engines, which is the
  *    contract that matters here. The pair separator `|` assumes
  *    tokens never contain `|` (true of the normalized corpus).
  *
  * A fixed `Merges` count keeps the oracle expressible as unrolled
  * CTEs (the q70 treatment); real vocab training just runs more
  * rounds of the same shape.
  */
object Bpe {

  val Merges = 8  // learned merge count (tiny; the SHAPE is the loop)
  val Passes = 3  // fixed replace passes per merge — see scaladoc

  /** Symbolize a word: "table" → " t a b l e " (space sentinels). */
  private def symbolize(w: Column): Column =
    concat(lit(" "), trim(regexp_replace(w, "(.)", "$1 ")), lit(" "))

  /** One merge application: 3-pass literal replace (see scaladoc). */
  private[operators] def applyMerge(ws: Column, lhs: String,
      rhs: String): Column = {
    val pat = lit(s" $lhs $rhs ")
    val rep = lit(s" $lhs$rhs ")
    (1 to Passes).foldLeft(ws)((c, _) => replace(c, pat, rep))
  }

  /** The training loop behind q72/q74: learns `Merges` ranked merges
    * as driver state (K rows — the merge list IS the model). */
  private[operators] def trainMerges(s: SparkSession,
      dir: String): Seq[(Long, String, String, Long)] = {
    // corpus → word-frequency table: the ONLY corpus-scale stage
    var words = Tables.spread(Tables.load(s, dir, "documents"))
      .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(symbolize(col("w")).as("ws"), col("freq"))
      .localCheckpoint(true)

    val merges = Seq.newBuilder[(Long, String, String, Long)]
    for (k <- 1 to Merges) {
      val syms = split(trim(col("ws")), " ")
      val best = words
        .filter(size(syms) >= 2) // single-symbol words have no pairs
        .select(col("freq"), explode(
          transform(sequence(lit(0), size(syms) - 2),
            j => concat(get(syms, j), lit("|"), get(syms, j + 1))))
          .as("pair"))
        .groupBy(col("pair")).agg(sum(col("freq")).as("f"))
        .orderBy(col("f").desc, col("pair").asc)
        .limit(1).collect()
      require(best.nonEmpty, s"q72: vocabulary exhausted after ${k - 1} " +
        s"merges — lower Merges (=$Merges) for this corpus")
      val Array(lhs, rhs) = best(0).getString(best(0).fieldIndex("pair"))
        .split("\\|", 2)
      merges += ((k.toLong, lhs, rhs,
        best(0).getLong(best(0).fieldIndex("f"))))
      words = words
        .select(applyMerge(col("ws"), lhs, rhs).as("ws"), col("freq"))
        .localCheckpoint(true)
    }
    merges.result()
  }

  /** q72: learn the top-`Merges` BPE merges; returns one row per
    * merge: (rank, lhs, rhs, pair_freq). */
  def q72BpeMerges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    trainMerges(s, dir).toDF("rank", "lhs", "rhs", "pair_freq")
      .orderBy(col("rank"))
  }

  /** Tokenizer application with a FIXED merge list: per-doc word and
    * BPE-piece counts. The merge cascade runs on the DISTINCT-word
    * vocabulary (map-only: Merges×Passes literal replaces per vocab
    * entry, never per occurrence — the simhash memoization lesson),
    * then occurrences equi-join their word's piece count and sum per
    * doc. Two corpus passes + a vocab-sized join side, the q36/q73
    * template. */
  private[operators] def encode(docs: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("w"))
    val pieces = merges.foldLeft(symbolize(col("w"))) {
      case (ws, (l, r)) => applyMerge(ws, l, r)
    }
    // explicit-N vocab partitioning (round 14): the Merges-x-Passes
    // replace cascade is the per-row hot kernel here, and the
    // distinct()'s AQE-coalesced single post-shuffle partition ran it
    // serially (~1.1 s single-task at sf0.1)
    val wp = toks.select(col("w")).distinct()
      .repartition(docs.sparkSession.sparkContext.defaultParallelism,
        col("w"))
      .select(col("w"),
        size(split(trim(pieces), " ")).cast("long").as("n_pieces_w"))
    toks.join(wp, "w")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_pieces_w")).as("n_pieces"))
      .orderBy(col("doc_id"))
  }

  /** q74: BPE tokenization of the corpus with the q72-trained merges —
    * the apply half of tokenizer training: every document's token
    * count under the learned subword vocabulary (what a training run
    * needs for budgeting/packing). Training cost is q72; application
    * is [[encode]]'s vocab-sized cascade. */
  def q74BpeEncode(s: SparkSession, dir: String): DataFrame =
    encode(Tables.spread(Tables.load(s, dir, "documents")),
      trainMerges(s, dir).map(m => (m._2, m._3)))

  /** q90: tokenizer fertility report per language — the standard
    * tokenizer-evaluation table (how many subword pieces per word
    * each language pays under the learned vocabulary; a tokenizer
    * trained on skewed data taxes under-represented languages with
    * higher fertility). Per lang: occurrence and distinct-word
    * counts, total pieces, `fertility_e6 = pieces·10⁶ div words`,
    * and the split rate (occurrences not representable as a single
    * piece). Reuses [[trainMerges]] (train once) and the
    * distinct-vocab merge cascade of [[encode]]: the cascade is
    * map-only over the vocabulary, occurrences join their word's
    * piece count, and the per-lang aggregate is one map-side-combined
    * shuffle — the scalar agg buffers here are bytes, so sharing the
    * groupBy with `count(DISTINCT w)`'s Expand is safe (the q22
    * hazard needs multi-KB buffers).
    *
    * 100 TB posture: identical to q74 — two corpus passes (word
    * frequencies for training; occurrence counting for the report)
    * plus a vocab-sized broadcast join side; per-lang output is
    * #languages rows. */
  def q90TokenizerFertility(s: SparkSession, dir: String): DataFrame = {
    val merges = trainMerges(s, dir).map(m => (m._2, m._3))
    val toks = Tables.spread(Tables.load(s, dir, "documents"))
      .select(col("lang"),
        explode(TextAnalysis.tokens(col("text"))).as("w"))
    val pieces = merges.foldLeft(symbolize(col("w"))) {
      case (ws, (l, r)) => applyMerge(ws, l, r)
    }
    // see q74: keep the merge-cascade kernel parallel
    val wp = toks.select(col("w")).distinct()
      .repartition(s.sparkContext.defaultParallelism, col("w"))
      .select(col("w"),
        size(split(trim(pieces), " ")).cast("long").as("n_pieces_w"))
    toks.join(wp, "w")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"),
        countDistinct(col("w")).as("n_vocab"),
        sum(col("n_pieces_w")).as("n_pieces"),
        sum(when(col("n_pieces_w") > 1, 1L).otherwise(0L))
          .as("n_split"))
      .withColumn("fertility_e6", expr("n_pieces * 1000000 div n_words"))
      .withColumn("split_rate_e6", expr("n_split * 1000000 div n_words"))
      .select(col("lang"), col("n_words"), col("n_vocab"),
        col("n_pieces"), col("n_split"), col("fertility_e6"),
        col("split_rate_e6"))
      .orderBy(col("lang"))
  }

  /** The fixed 3-pass replace as DuckDB SQL (lhs/rhs in scope). */
  private def replace3Sql(base: String): String =
    (1 to Passes).foldLeft(base)((e, _) =>
      s"replace($e, ' '||lhs||' '||rhs||' ', ' '||lhs||rhs||' ')")

  /** [[symbolize]] as DuckDB SQL over a column named `w`. */
  private val symbolizeSql =
    """' ' || trim(regexp_replace(w, '(.)', '\1 ', 'g')) || ' '"""

  /** One merge round as DuckDB CTEs: `prev` word table → pair counts
    * → argmax (`m\$r`: rank, lhs, rhs, f) → rewritten words `out`. */
  private def roundSql(r: Int, prev: String, out: String): String =
    s"""p$r AS (
       |  SELECT pair, CAST(sum(freq) AS BIGINT) AS f FROM (
       |    SELECT freq, unnest(list_transform(
       |        range(1, len(string_split(trim(ws), ' '))),
       |        j -> string_split(trim(ws), ' ')[j] || '|' ||
       |             string_split(trim(ws), ' ')[j+1])) AS pair
       |    FROM $prev)
       |  GROUP BY pair),
       |m$r AS (
       |  SELECT CAST($r AS BIGINT) AS rank,
       |    string_split(pair, '|')[1] AS lhs,
       |    string_split(pair, '|')[2] AS rhs, f
       |  FROM p$r ORDER BY f DESC, pair ASC LIMIT 1),
       |$out AS (
       |  SELECT ${replace3Sql("ws")} AS ws, freq
       |  FROM $prev, m$r)""".stripMargin

  private val w0Sql =
    s"""w0 AS (
       |  SELECT $symbolizeSql AS ws,
       |    CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest($tokensSql) AS w FROM documents)
       |  GROUP BY 1)""".stripMargin

  private def roundsSql: String = (1 to Merges)
    .map(r => roundSql(r, s"w${r - 1}", s"w$r")).mkString(",\n")

  val q72BpeMergesOracle: String = {
    val union = (1 to Merges)
      .map(r => s"SELECT rank, lhs, rhs, f AS pair_freq FROM m$r")
      .mkString(" UNION ALL ")
    s"""WITH $w0Sql,
       |$roundsSql
       |$union ORDER BY rank""".stripMargin
  }

  /** q74 oracle: the q72 training chain (for `m1..mK`), then a
    * DISTINCT-word mapping chain `v0..vK` applying each round's merge,
    * then the occurrence join + per-doc sum. */
  val q74BpeEncodeOracle: String = {
    val vchain = (1 to Merges).map(r =>
      s"""v$r AS (
         |  SELECT w, ${replace3Sql("ws")} AS ws FROM v${r - 1}, m$r)"""
        .stripMargin).mkString(",\n")
    s"""WITH $w0Sql,
       |$roundsSql,
       |v0 AS (
       |  SELECT DISTINCT w, $symbolizeSql AS ws
       |  FROM (SELECT unnest($tokensSql) AS w FROM documents)),
       |$vchain,
       |wp AS (
       |  SELECT w, CAST(len(string_split(trim(ws), ' ')) AS BIGINT)
       |      AS n_pieces_w
       |  FROM v$Merges),
       |toks AS (SELECT doc_id, unnest($tokensSql) AS w FROM documents)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(n_pieces_w) AS BIGINT) AS n_pieces
       |FROM toks JOIN wp USING (w)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** q90 oracle: the q72 training chain + q74's vocab cascade, then
    * the per-language occurrence aggregate. */
  val q90TokenizerFertilityOracle: String = {
    val vchain = (1 to Merges).map(r =>
      s"""v$r AS (
         |  SELECT w, ${replace3Sql("ws")} AS ws FROM v${r - 1}, m$r)"""
        .stripMargin).mkString(",\n")
    s"""WITH $w0Sql,
       |$roundsSql,
       |v0 AS (
       |  SELECT DISTINCT w, $symbolizeSql AS ws
       |  FROM (SELECT unnest($tokensSql) AS w FROM documents)),
       |$vchain,
       |wp AS (
       |  SELECT w, CAST(len(string_split(trim(ws), ' ')) AS BIGINT)
       |      AS n_pieces_w
       |  FROM v$Merges),
       |toks AS (SELECT lang, unnest($tokensSql) AS w FROM documents),
       |agg AS (
       |  SELECT lang, CAST(count(*) AS BIGINT) AS n_words,
       |    CAST(count(DISTINCT w) AS BIGINT) AS n_vocab,
       |    CAST(sum(n_pieces_w) AS BIGINT) AS n_pieces,
       |    CAST(sum(CASE WHEN n_pieces_w > 1 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_split
       |  FROM toks JOIN wp USING (w)
       |  GROUP BY lang)
       |SELECT lang, n_words, n_vocab, n_pieces, n_split,
       |  CAST(n_pieces * 1000000 // n_words AS BIGINT) AS fertility_e6,
       |  CAST(n_split * 1000000 // n_words AS BIGINT) AS split_rate_e6
       |FROM agg ORDER BY lang""".stripMargin
  }
}
