package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import graft.swivel.{SwivelMain, SwivelPrep}
import graft.sources.Sources
import java.nio.file.{Files, Paths}

/** Hand-computed goldens for the Swivel prep pipeline (SURVEY §5.2-3). */
class SwivelSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs(texts: String*) =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")

  test("tokenize: 1-based positions, whitespace split") {
    val got = SwivelPrep.tokenize(docs("a b a")).orderBy("pos")
      .as[(Long, Long, String)].collect()
    assert(got.toSeq == Seq((0L, 1L, "a"), (0L, 2L, "b"), (0L, 3L, "a")))
  }

  test("cooc golden: 'a b a', window 2 — 1/d weights, symmetric, self-pair doubled") {
    val d = docs("a b a")
    val vocab = SwivelPrep.buildVocab(d, minCount = 1, shardSize = 1)
    // counts: a=2, b=1 → ids a=0, b=1
    assert(vocab.orderBy("id").as[(Long, String, Long)].collect().toSeq ==
      Seq((0L, "a", 2L), (1L, "b", 1L)))
    val cells = SwivelPrep.cooc(d, vocab, windowSize = 2)
      .orderBy("row_id", "col_id").as[(Long, Long, Double)].collect().toSeq
    // pairs: (a@1,b@2,d=1), (a@1,a@3,d=2), (b@2,a@3,d=1); both orientations:
    // C[a][a] = 1/2 + 1/2 = 1.0 ; C[a][b] = C[b][a] = 1/1 + 1/1 = 2.0
    assert(cells == Seq((0L, 0L, 1.0), (0L, 1L, 2.0), (1L, 0L, 2.0)))
    val marg = SwivelPrep.marginals(d, vocab, windowSize = 2)
      .orderBy("id").as[(Long, Double)].collect().toSeq
    // row sums: a: 1.0 + 2.0 = 3.0 ; b: 2.0
    assert(marg == Seq((0L, 3.0), (1L, 2.0)))
  }

  test("vocab: count ties break token-ASC; truncation to shard_size multiple") {
    // a,b,c count 3; d count 2; minCount=2 keeps all 4; shardSize=3 → keep 3
    val d = docs("a b c d", "b c a d", "c a b")
    val v = SwivelPrep.buildVocab(d, minCount = 2, shardSize = 3)
      .orderBy("id").as[(Long, String, Long)].collect().toSeq
    assert(v == Seq((0L, "a", 3L), (1L, "b", 3L), (2L, "c", 3L)))
  }

  test("vocab: min_count filter drops rare tokens before ranking") {
    val d = docs("x x y")
    val v = SwivelPrep.buildVocab(d, minCount = 2, shardSize = 1)
      .as[(Long, String, Long)].collect().toSeq
    assert(v == Seq((0L, "x", 2L)))
  }

  test("cooc: out-of-vocab tokens drop but positions keep original distances") {
    // 'a z b': z is OOV (minCount=2 with one z)… use explicit truncation:
    // vocab {a,b} via minCount=2; pair (a@1, b@3) has d=2, not 1.
    val d = docs("a z b", "a b z a b")
    val vocab = SwivelPrep.buildVocab(d, minCount = 2, shardSize = 2)
    assert(vocab.select("token").as[String].collect().toSet == Set("a", "b"))
    val pairs = SwivelPrep.coocPairs(docs("a z b"), vocab, windowSize = 2)
      .as[(Long, Long, Int)].collect().toSeq
    // only (a,b,d=2) + mirror — distance measured on original positions
    assert(pairs.toSet == Set((0L, 1L, 2), (1L, 0L, 2)))
  }

  test("coocSalted produces exactly the cells of cooc (skew path is lossless)") {
    val d = docs("a b a c a b", "b c a a", "a a a a a a")
    val vocab = SwivelPrep.buildVocab(d, minCount = 1, shardSize = 1)
    val plain = SwivelPrep.cooc(d, vocab, 3)
      .orderBy("row_id", "col_id").as[(Long, Long, Double)].collect().toSeq
    val salted = SwivelPrep.coocSalted(d, vocab, 3, saltBuckets = 4)
      .orderBy("row_id", "col_id").as[(Long, Long, Double)].collect().toSeq
    assert(salted == plain)
  }

  test("shard: id % num_shards assignment, dense locals") {
    val d = docs("a a b b c c d d", "a b c d")
    val vocab = SwivelPrep.buildVocab(d, minCount = 1, shardSize = 2)
    assert(vocab.count() == 4) // → num_shards = 2
    val cells = SwivelPrep.cooc(d, vocab, 2)
    val sh = SwivelPrep.shard(cells, vocab, shardSize = 2)
    val bad = sh.filter(
      org.apache.spark.sql.functions.expr(
        "row_shard <> global_row % 2 OR local_row <> global_row div 2 OR " +
        "col_shard <> global_col % 2 OR local_col <> global_col div 2"))
    assert(bad.count() == 0)
  }

  test("windowSize or shardSize below 1 is rejected up front") {
    val d = docs("a b a")
    intercept[IllegalArgumentException](SwivelPrep.buildVocab(d, minCount = 1, shardSize = 0))
    val vocab = SwivelPrep.buildVocab(d, minCount = 1, shardSize = 1)
    intercept[IllegalArgumentException](SwivelPrep.cellCounts(d, vocab, windowSize = 0))
  }

  test("SwivelMain.parse: defaults, and None for a missing path or a non-positive/non-numeric integer flag") {
    val base = Array("--input", "in", "--output_dir", "out")
    assert(SwivelMain.parse(base).contains(SwivelMain.Opts("in", "out")))
    assert(SwivelMain.parse(base ++ Array("--window_size", "3", "--output_format", "pb"))
      .contains(SwivelMain.Opts("in", "out", windowSize = 3, outputFormat = "pb")))
    assert(SwivelMain.parse(Array("--input", "in")).isEmpty)
    for ((flag, v) <- Seq("window_size" -> "0", "window_size" -> "-1", "shard_size" -> "0",
        "min_count" -> "0", "shard_size" -> "4k", "min_count" -> "", "window_size" -> "1e3"))
      assert(SwivelMain.parse(base ++ Array(s"--$flag", v)).isEmpty, s"--$flag $v accepted")
  }

  test("SwivelMain.run end to end (pb): sums file, cell count and shard grid match the stages") {
    val dir = Files.createTempDirectory("graft_swivel_cli")
    val corpus = dir.resolve("corpus.txt")
    // 'q' stands alone on its lines: in vocab, but no in-window partner,
    // so its sums line must be the zero backfill
    Files.write(corpus, Seq("a b c a b", "b c d  d a", "q", "c a b d", "q", "a")
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    val out = dir.resolve("out").toString
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      SwivelMain.run(spark, SwivelMain.Opts(corpus.toString, out, shardSize = 2,
        minCount = 1, windowSize = 3, outputFormat = "pb"))
    }
    val d = Sources.textCorpus(spark, corpus.toString)
    val vocab = SwivelPrep.buildVocab(d, minCount = 1, shardSize = 2)
    val vocabSize = vocab.count().toInt
    assert(vocabSize == 6) // a b c d q and the empty token of "d  d"
    val marg = SwivelPrep.marginals(d, vocab, 3).as[(Long, Double)].collect().toMap
    val q = vocab.filter($"token" === "q").select("id").as[Long].head()
    assert(!marg.contains(q))
    val want = (0L until vocabSize).map(i => f"${marg.getOrElse(i, 0.0)}%.4f")
    val rowSums = Files.readAllLines(Paths.get(s"$out/row_sums.txt"))
    assert(rowSums.toArray.toSeq == want)
    assert(Files.readAllLines(Paths.get(s"$out/col_sums.txt")) == rowSums)
    val printed = "cells=(\\d+)".r.findFirstMatchIn(buf.toString("UTF-8")).map(_.group(1).toLong)
    assert(printed.contains(SwivelPrep.cooc(d, vocab, 3).count()))
    val numShards = vocabSize / 2
    assert(new java.io.File(s"$out/shards_pb").list().count(_.endsWith(".pb")) ==
      numShards * numShards)
  }
}
