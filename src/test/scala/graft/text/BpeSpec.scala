package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

class BpeSpec extends SparkSpec {

  /** Plain-Scala reference BPE trainer: word counts in, R merge rounds
    * out, greedy left-to-right merging — independent of the Column
    * tree. */
  private def referenceBpe(
      wc: Map[String, Long], rounds: Int): Seq[(String, String, Long)] = {
    var words: Map[Vector[String], Long] =
      wc.map { case (w, n) => w.map(_.toString).toVector -> n }
    (1 to rounds).map { _ =>
      val pairCounts = words.toSeq
        .flatMap { case (syms, n) =>
          syms.zip(syms.drop(1)).map(p => p -> n)
        }
        .groupMapReduce(_._1)(_._2)(_ + _)
      val ((lhs, rhs), cnt) = pairCounts.toSeq
        .minBy { case ((a, b), c) => (-c, a, b) }
      words = words.toSeq.map { case (syms, n) =>
        val out = syms.foldLeft(Vector.empty[String]) { (acc, x) =>
          if (acc.nonEmpty && acc.last == lhs && x == rhs)
            acc.init :+ (lhs + rhs)
          else acc :+ x
        }
        out -> n
      }.groupMapReduce(_._1)(_._2)(_ + _)
      (lhs, rhs, cnt)
    }
  }

  test("bpe_train matches a plain-Scala reference trainer on the corpus") {
    val got = Bpe.queries("bpe_train")(spark, sf0001).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    val wc = graft.Tables.documents(spark, sf0001)
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val expect = referenceBpe(wc, Bpe.Rounds)
    assert(got.length == Bpe.Rounds)
    got.zip(expect).zipWithIndex.foreach {
      case (((r, l, rr, n), (el, er, en)), i) =>
        assert(r == i + 1)
        assert((l, rr, n) == (el, er, en),
          s"round ${i + 1}: got ($l,$rr,$n) want ($el,$er,$en)")
    }
    // BPE invariant: the best pair's frequency never increases across
    // rounds (existing pair counts only shrink; pairs born of a merge
    // inherit at most the merged pair's occurrence count)
    val ns = got.map(_._4)
    assert(ns.zip(ns.drop(1)).forall { case (a, b) => b <= a }, ns.toSeq)
    graft.Memo.evict("Bpe")
  }

  test("vocab cap bounds the merge task and keeps reference semantics on the kept top-N") {
    // the fixture has 31 distinct words; cap=8 forces the bound to BIND:
    // training must equal the reference trainer run on exactly the 8
    // highest-count words (count desc, UTF-8-byte word tie-break)
    val wc = graft.Tables.documents(spark, sf0001)
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").count().collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(wc.length > 8, "fixture vocab too small to exercise the cap")
    val top8 = wc.toSeq.sortWith { (a, b) =>
      a._2 > b._2 || (a._2 == b._2 && Bpe.u8Less(a._1, b._1))
    }.take(8).toMap
    val got = Bpe.train(spark, sf0001, cap = 8).collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(3)))
    val expect = referenceBpe(top8, Bpe.Rounds).take(got.length)
    assert(got.toSeq == expect, s"got ${got.toSeq} want $expect")
    // scale shape: the cap is a bounded top-N (per-partition top-N +
    // one <=N-row merge), never a global sort of the vocabulary
    val plan = Bpe.train(spark, sf0001, cap = 8)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"vocab cap is not a bounded top-N:\n${plan.take(2000)}")
    graft.Memo.evict("Bpe")
  }

  test("merge fold is greedy left-to-right: 'a a a' + (a,a) -> [aa, a]") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bpe_fix").toString
    Seq((1L, "aaa", "en", "s", 3L), (2L, "abab ba", "en", "s", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Bpe.queries("bpe_train")(spark, dir).collect()
    // wc: aaa=1, abab=1, ba=1 → round-1 pairs: (a,a)=2 (from aaa: pos
    // 0-1 and 1-2 BOTH count at pair-count time), (a,b)=2, (b,a)=3
    // → best (b,a); greedy fold of abab under later merges exercises
    // the left-to-right rule end to end via the reference comparison
    val wc = Map("aaa" -> 1L, "abab" -> 1L, "ba" -> 1L)
    val expect = referenceBpe(wc, Bpe.Rounds.min(rows.length))
    rows.zip(expect).foreach { case (r, (el, er, en)) =>
      assert((r.getString(1), r.getString(2), r.getLong(3)) == (el, er, en))
    }
    graft.Memo.evict("Bpe")
  }

  /** Plain-Scala greedy encoder: apply the trained merges in rank order
    * to one word — the same left-to-right walk the trainer uses,
    * independent of the replace-fold Column tree. */
  private def referenceEncode(
      w: String, merges: Seq[(String, String)]): Seq[String] =
    merges.foldLeft(Bpe.charSyms(w).toVector) { case (syms, (lhs, rhs)) =>
      syms.foldLeft(Vector.empty[String]) { (acc, x) =>
        if (acc.nonEmpty && acc.last == lhs && x == rhs)
          acc.init :+ (lhs + rhs)
        else acc :+ x
      }
    }

  test("bpe_apply histogram matches a plain-Scala per-word encoder") {
    val merges = Bpe.queries("bpe_train")(spark, sf0001).collect()
      .sortBy(_.getInt(0)).map(r => (r.getString(1), r.getString(2))).toSeq
    val got = Bpe.queries("bpe_apply")(spark, sf0001).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val wc = graft.Tables.documents(spark, sf0001)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").count().collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val expect = wc
      .flatMap { case (w, n) => referenceEncode(w, merges).map(_ -> n) }
      .groupMapReduce(_._1)(_._2)(_ + _).toSeq
      // UTF-8 byte tie-break like Spark/DuckDB, NOT Scala's UTF-16 order
      .sortWith { (a, b) =>
        a._2 > b._2 || (a._2 == b._2 && Bpe.u8Less(a._1, b._1))
      }.take(100)
    assert(got.toSeq == expect)
    graft.Memo.evict("Bpe")
  }

  test("bpe_fertility matches the per-word encoder masses; every word emits >= 1 token") {
    val merges = Bpe.queries("bpe_train")(spark, sf0001).collect()
      .sortBy(_.getInt(0)).map(r => (r.getString(1), r.getString(2))).toSeq
    val got = Bpe.queries("bpe_fertility")(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val lw = graft.Tables.documents(spark, sf0001)
      .select(col("lang"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("lang", "w").count().collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val expect = lw.groupBy(_._1).toSeq.map { case (lang, ws) =>
      val nWords = ws.map(_._3).sum
      val nToks = ws.map { case (_, w, n) =>
        referenceEncode(w, merges).length.toLong * n
      }.sum
      (lang, nWords, nToks, nToks * 1000000L / nWords)
    }.sortBy(_._1)
    assert(got.toSeq == expect)
    got.foreach { case (lang, _, _, f) =>
      assert(f >= 1000000L, s"$lang fertility < 1 token/word")
    }
    graft.Memo.evict("Bpe")
  }
}
