package graft.text

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Byte-pair-encoding merge training — the tokenizer-training pass of an
  * LLM data pipeline (Sennrich et al. 2016), expressed corpus-scale.
  *
  * Two-phase shape, exactly how production BPE trainers work:
  *
  *  1. **Distributed corpus pass** — token explode → word count (the
  *     same vocab-bounded aggregation `tokenize_ids` uses). This is the
  *     only stage that touches corpus rows; at 100 TB it is the scan +
  *     one uniform-keyed shuffle with map-side combine.
  *  2. **Single-task merge loop** — the counted vocabulary (one row per
  *     DISTINCT word: bounded by the language, not the corpus — ~10M
  *     rows at web scale, MBs) is repartitioned to one task that runs
  *     all R merge rounds locally: pair counting, argmax selection
  *     (count desc, then UTF-8-byte lexicographic — the exact ordering
  *     Spark and DuckDB give strings — as tie-break), and the greedy
  *     LEFT-TO-RIGHT in-word merge ("a a a" under merge (a,a) becomes
  *     [aa, a], never [a, aa], matching reference BPE).
  *
  * Why the merge loop is deliberately NOT a Catalyst plan: the rounds
  * are inherently sequential (round r+1's pair counts depend on round
  * r's merge), and each round's global argmax forces a job boundary —
  * as unrolled Column trees the 6 rounds cost ~3 scheduler round-trips
  * each (pair-count job, top-1, broadcast) on a KB-sized frame, 9.2 s
  * of pure latency at sf0.1 (measured round 7; the corpus pass itself
  * is ~1 s). Production trainers (SentencePiece, HF tokenizers) draw
  * the same boundary: count distributed, merge locally on the counts.
  * The loop stays OFF the driver — it runs inside one executor task,
  * so the plan remains a single Spark job and the driver never holds
  * the vocabulary.
  *
  * The DuckDB oracle replays all R rounds bit-for-bit: the same zip /
  * count / ORDER BY ... LIMIT 1 selection, and the merge as a
  * double-space-join + `replace` on ' lhs  rhs ' — string replace scans
  * left-to-right over non-overlapping occurrences, which is exactly the
  * greedy merge's semantics (each pair occurrence owns its two boundary
  * spaces, so an overlapping second occurrence cannot re-match).
  * BpeSpec additionally pins the result against an independent
  * plain-Scala reference trainer.
  *
  * Reference scope: the reference engine has no tokenizer surface
  * (/root/reference/src/QueryProcessor1.java — string columns are only
  * grouped/compared); this is part of the LLM-pipeline extension
  * mandated by the build brief.
  */
object Bpe {

  /** Unrolled merge rounds (mirrored by the oracle). */
  val Rounds = 6

  /** Vocabulary cap for the merge loop: the loop trains on the
    * [[VocabCap]] highest-count distinct words (count desc, UTF-8-byte
    * word tie-break — a total order, so the kept set is deterministic),
    * exactly how production BPE trainers bound memory. Without it the
    * single merge task materializes the FULL distinct-word table, which
    * grows with the corpus by Heaps' law (billions of "words" on a
    * 100 TB web corpus — typos, ids, urls); the dropped tail is the
    * low-count end whose pair mass is negligible by construction. The
    * cap rides a TakeOrderedAndProject (per-partition top-N, then one
    * ≤N-row merge — never a global sort) and is mirrored bit-for-bit in
    * the DuckDB oracle's `ORDER BY n DESC, w LIMIT` vocab CTE. 64Ki
    * words ≈ MBs in the merge task regardless of corpus size. */
  val VocabCap: Int = 1 << 16

  /** One trained merge: round number, the merged pair, its count at
    * selection time, and the fused symbol. */
  case class Merge(
      merge_round: Int, lhs: String, rhs: String, pair_n: Long,
      merged: String)

  /** Unsigned UTF-8 byte comparison — Spark's UTF8String ordering and
    * DuckDB's default collation; Scala's String ordering (UTF-16 units)
    * differs above the BMP, so the tie-break must not use it. */
  private[text] def u8Less(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < x.length && i < y.length) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** Word → per-code-point symbols (the oracle's `w[i:i]` walk). */
  private[text] def charSyms(w: String): Array[String] = {
    val buf = mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < w.length) {
      val cc = Character.charCount(w.codePointAt(i))
      buf += w.substring(i, i + cc)
      i += cc
    }
    buf.toArray
  }

  /** The merge loop over a word-count iterator: R rounds of pair
    * counting / argmax / greedy left-to-right merge. Stops early when no
    * adjacent pair remains (tiny corpora). Order-independent in its
    * input (counts are summed), so the repartition(1) shuffle's
    * nondeterministic row order cannot affect the result. */
  private[text] def mergeRounds(
      it: Iterator[(String, Long)], rounds: Int): Iterator[Merge] = {
    var words: Array[(Array[String], Long)] =
      it.map { case (w, n) => (charSyms(w), n) }.toArray
    val out = mutable.ArrayBuffer.empty[Merge]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val counts = mutable.HashMap.empty[(String, String), Long]
      for ((syms, n) <- words) {
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + n)
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        var best: ((String, String), Long) = null
        for (e <- counts) {
          if (best == null || e._2 > best._2 ||
            (e._2 == best._2 && (u8Less(e._1._1, best._1._1) ||
              (e._1._1 == best._1._1 && u8Less(e._1._2, best._1._2)))))
            best = e
        }
        val ((lhs, rhs), cnt) = best
        val fused = lhs + rhs
        words = words.map { case (syms, n) =>
          val acc = mutable.ArrayBuffer.empty[String]
          for (x <- syms) {
            if (acc.nonEmpty && acc.last == lhs && x == rhs)
              acc(acc.length - 1) = fused
            else acc += x
          }
          (acc.toArray, n)
        }
        out += Merge(r, lhs, rhs, cnt, fused)
        r += 1
      }
    }
    out.iterator
  }

  /** (merge_round, lhs, rhs, pair_n, merged) — the trained merge table:
    * one distributed word-count job, a [[VocabCap]] top-N (the bounded
    * frame the merge loop actually needs — see the cap's doc), then the
    * merge loop in one executor task over ≤ cap rows (repartition(1)
    * AFTER the aggregation + cap, so the count keeps full parallelism
    * and the single task's input is bounded by the cap, not the
    * corpus). */
  private[text] def train(
      s: SparkSession, d: String, cap: Int = VocabCap): DataFrame = {
    import s.implicits._
    val wc = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w"))
      .limit(cap)
      .as[(String, Long)]
    val rounds = Rounds
    wc.repartition(1)
      .mapPartitions(it => mergeRounds(it, rounds))
      .toDF()
      .orderBy(col("merge_round"))
  }

  /** The trained merge table, cached once per (session, dir). */
  private def trained(s: SparkSession, d: String): DataFrame =
    graft.Memo.bpeMerges(s, d)(train(s, d).cache())

  /** Corpus encoded with the trained merge table — the tokenizer APPLY
    * pass that follows training in a real pipeline. Output is the
    * corpus-level BPE-token histogram (top 100 by count): the number a
    * data-mixing / vocab-coverage audit actually wants, and it keeps
    * every stage vocab-bounded.
    *
    * Shape: the corpus collapses to DISTINCT words first (the same
    * vocab-bounded aggregation as training — each word is encoded ONCE
    * and weighted by its count, not once per occurrence), then the
    * 6-row merge table arrives as ONE broadcast array and the merges
    * are applied in rank order as a fold of non-overlapping
    * left-to-right `replace` calls over the double-spaced symbol string
    * — the exact greedy semantics of the trainer (each occurrence owns
    * its two boundary spaces). No collect anywhere: the merge list
    * reaches the executors as a crossJoin of a 1-row frame.
    *
    * `(?s)(.)` spaces EVERY code point (DOTALL — newlines inside words
    * must become symbols exactly as the trainer's code-point walk does);
    * Java regex and RE2 both treat `.` as one code point, so Spark and
    * DuckDB space identically. */
  private def encode(s: SparkSession, d: String): DataFrame = {
    val ms = trained(s, d).agg(array_sort(collect_list(struct(
      col("merge_round"), col("lhs"), col("rhs"), col("merged")))).as("ms"))
    val wc = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w"))
      .agg(count(lit(1)).as("n"))
    wc.crossJoin(broadcast(ms))
      .withColumn("sp", regexp_replace(col("w"), "(?s)(.)", " $1 "))
      .withColumn("enc", aggregate(col("ms"), col("sp"), (acc, m) =>
        replace(acc,
          concat(lit(" "), m.getField("lhs"), lit("  "),
            m.getField("rhs"), lit(" ")),
          concat(lit(" "), m.getField("merged"), lit(" ")))))
      .select(explode(split(trim(col("enc")), " +")).as("token"), col("n"))
      .groupBy(col("token"))
      .agg(sum(col("n")).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(100)
  }

  /** Tokenizer fertility (tokens emitted per word) by language — the
    * standard tokenizer-evaluation metric that decides whether a vocab
    * under-serves a language. Same skeleton as [[encode]]: DISTINCT
    * (lang, word) counts (one corpus shuffle), each distinct word
    * encoded once against the broadcast merge list, token count is
    * `size(split(...))` in-row — no token explode at all — then a
    * lang-bounded aggregation of word/token masses. */
  private def fertility(s: SparkSession, d: String): DataFrame = {
    val ms = trained(s, d).agg(array_sort(collect_list(struct(
      col("merge_round"), col("lhs"), col("rhs"), col("merged")))).as("ms"))
    val wc = Tables.documents(s, d)
      .select(col("lang"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("lang"), col("w"))
      .agg(count(lit(1)).as("n"))
    wc.crossJoin(broadcast(ms))
      .withColumn("sp", regexp_replace(col("w"), "(?s)(.)", " $1 "))
      .withColumn("enc", aggregate(col("ms"), col("sp"), (acc, m) =>
        replace(acc,
          concat(lit(" "), m.getField("lhs"), lit("  "),
            m.getField("rhs"), lit(" ")),
          concat(lit(" "), m.getField("merged"), lit(" ")))))
      .withColumn("toks", size(split(trim(col("enc")), " +")).cast("long"))
      .groupBy(col("lang"))
      .agg(sum(col("n")).as("n_words"),
        sum(col("toks") * col("n")).as("n_tokens"))
      .selectExpr("lang", "n_words", "n_tokens",
        "n_tokens * 1000000 div n_words AS fertility_ppm")
      .orderBy(col("lang"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bpe_train" -> trained,
    "bpe_apply" -> encode,
    "bpe_fertility" -> fertility)

  // An empty round CTE makes the scalar subquery NULL, and
  // replace(x, NULL, NULL) nulls the whole string in DuckDB while Spark's
  // fold over a shorter merge array is a no-op — coalesce to chr(1) (a
  // needle that cannot occur in space-joined symbols) so both engines no-op.
  private def roundCtes(r: Int): String = {
    val prev = s"w${r - 1}"
    s"""p$r AS (
       |  SELECT z[1] AS lhs, z[2] AS rhs, sum(n)::BIGINT AS pair_n
       |  FROM (SELECT unnest(list_zip(syms, syms[2:])) AS z, n FROM $prev)
       |  WHERE z[2] IS NOT NULL
       |  GROUP BY 1, 2),
       |b$r AS (SELECT $r AS merge_round, lhs, rhs, pair_n FROM p$r
       |        ORDER BY pair_n DESC, lhs, rhs LIMIT 1),
       |w$r AS (
       |  SELECT regexp_split_to_array(trim(replace(
       |           ' ' || array_to_string(syms, '  ') || ' ',
       |           coalesce((SELECT ' ' || lhs || '  ' || rhs || ' ' FROM b$r), chr(1)),
       |           coalesce((SELECT ' ' || lhs || rhs || ' ' FROM b$r), chr(1)))), ' +') AS syms,
       |         n
       |  FROM $prev)""".stripMargin
  }

  def oracle: Map[String, String] = Map(
    "bpe_train" ->
      s"""WITH wc AS (
         |  SELECT w, count(*)::BIGINT AS n
         |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         |  GROUP BY w),
         |vocab AS (SELECT w, n FROM wc ORDER BY n DESC, w LIMIT $VocabCap),
         |w0 AS (
         |  SELECT list_transform(range(1, length(w)+1), i -> w[i:i]) AS syms,
         |         n
         |  FROM vocab),
         |${(1 to Rounds).map(roundCtes).mkString(",\n")}
         |SELECT merge_round, lhs, rhs, pair_n, lhs || rhs AS merged
         |FROM (${(1 to Rounds).map(r => s"SELECT * FROM b$r")
              .mkString(" UNION ALL ")})
         |ORDER BY merge_round""".stripMargin,
    // same training CTEs, then the encode: each DISTINCT word spaced per
    // code point ((?s): RE2 and Java regex both give one code point per
    // '.'), the R merges applied in rank order as nested non-overlapping
    // replaces — identical greedy semantics to Spark's fold
    "bpe_apply" -> {
      val nested = (1 to Rounds).foldLeft(
        "regexp_replace(w, '(?s)(.)', ' \\1 ', 'g')") { (acc, r) =>
        s"""replace($acc,
           |  coalesce((SELECT ' '||lhs||'  '||rhs||' ' FROM b$r), chr(1)),
           |  coalesce((SELECT ' '||lhs||rhs||' ' FROM b$r), chr(1)))""".stripMargin
      }
      s"""WITH wc AS (
         |  SELECT w, count(*)::BIGINT AS n
         |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         |  GROUP BY w),
         |vocab AS (SELECT w, n FROM wc ORDER BY n DESC, w LIMIT $VocabCap),
         |w0 AS (
         |  SELECT list_transform(range(1, length(w)+1), i -> w[i:i]) AS syms,
         |         n
         |  FROM vocab),
         |${(1 to Rounds).map(roundCtes).mkString(",\n")},
         |enc AS (
         |  SELECT n, $nested AS sp
         |  FROM wc WHERE length(w) > 0),
         |tok AS (
         |  SELECT unnest(regexp_split_to_array(trim(sp), ' +')) AS token, n
         |  FROM enc)
         |SELECT token, CAST(sum(n) AS BIGINT) AS cnt
         |FROM tok GROUP BY token
         |ORDER BY cnt DESC, token LIMIT 100""".stripMargin
    },
    // same training + nested-replace encode; token count per word via
    // array length, lang-bounded mass aggregation, truncating ppm div
    "bpe_fertility" -> {
      val nested = (1 to Rounds).foldLeft(
        "regexp_replace(w, '(?s)(.)', ' \\1 ', 'g')") { (acc, r) =>
        s"""replace($acc,
           |  coalesce((SELECT ' '||lhs||'  '||rhs||' ' FROM b$r), chr(1)),
           |  coalesce((SELECT ' '||lhs||rhs||' ' FROM b$r), chr(1)))""".stripMargin
      }
      s"""WITH wc AS (
         |  SELECT w, count(*)::BIGINT AS n
         |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         |  GROUP BY w),
         |vocab AS (SELECT w, n FROM wc ORDER BY n DESC, w LIMIT $VocabCap),
         |w0 AS (
         |  SELECT list_transform(range(1, length(w)+1), i -> w[i:i]) AS syms,
         |         n
         |  FROM vocab),
         |${(1 to Rounds).map(roundCtes).mkString(",\n")},
         |lw AS (
         |  SELECT lang, w, count(*)::BIGINT AS n
         |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS w
         |        FROM documents)
         |  WHERE length(w) > 0 GROUP BY 1, 2),
         |enc AS (
         |  SELECT lang, n,
         |    CAST(len(regexp_split_to_array(trim($nested), ' +')) AS BIGINT)
         |      AS toks
         |  FROM lw)
         |SELECT lang, CAST(sum(n) AS BIGINT) AS n_words,
         |  CAST(sum(toks * n) AS BIGINT) AS n_tokens,
         |  CAST(sum(toks * n) * 1000000 // sum(n) AS BIGINT) AS fertility_ppm
         |FROM enc GROUP BY lang ORDER BY lang""".stripMargin
    })
}
