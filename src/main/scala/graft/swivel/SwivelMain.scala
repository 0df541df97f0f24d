package graft.swivel

import org.apache.spark.sql.SparkSession
import graft.sources.Sources

/** End-to-end Swivel-prep CLI — the spark-submit entry point mirroring the
  * reference driver's flag surface (SURVEY.md §3.1 E1: --input,
  * --output_dir, --shard_size, --min_count, --window_size).
  *
  * Reads a corpus (plain-text lines or a parquet documents table; one row
  * is one document), runs tokenize → vocab → cell counts → cooc +
  * marginals → shard, and writes under <output_dir>:
  *   --output_format parquet (default):
  *     shards/      parquet partitioned by (row_shard, col_shard)
  *   --output_format pb (the reference trainer's input layout):
  *     shards_pb/shard-RRR-CCC.pb  one tensorflow.Example per shard,
  *                                 numShards² files
  *     row_vocab.txt, col_vocab.txt  one token per line, in id order
  *     row_sums.txt, col_sums.txt    one %.4f marginal per vocab id
  *   and in both modes:
  *     vocab/       (id, token, cnt)
  *     row_sums/    (id, marginal)
  * The matrix is symmetric, so row sums are col sums and every col_*
  * file equals its row_* twin.
  * Integer flags must be positive; a missing or malformed flag prints the
  * usage and exits 2 before any Spark work starts.
  */
object SwivelMain {
  private val usage =
    """usage: graft.swivel.SwivelMain --input <path> --output_dir <dir>
      |        [--input_format text|parquet] [--shard_size 4096]
      |        [--min_count 5] [--window_size 10] [--output_format parquet|pb]
      |        (shard_size, min_count and window_size are positive integers)""".stripMargin

  /** Validated CLI options; field defaults are the flag defaults. */
  final case class Opts(input: String, outputDir: String,
      inputFormat: String = "text", shardSize: Int = 4096, minCount: Int = 5,
      windowSize: Int = 10, outputFormat: String = "parquet")

  /** `--flag value` pairs → options, or None when --input/--output_dir is
    * missing or an integer flag is not a positive integer. */
  def parse(args: Array[String]): Option[Opts] = {
    val m = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def positive(k: String, default: Int): Option[Int] =
      m.get(k).fold(Option(default))(_.toIntOption).filter(_ >= 1)
    for {
      input <- m.get("input")
      outDir <- m.get("output_dir")
      shardSize <- positive("shard_size", 4096)
      minCount <- positive("min_count", 5)
      windowSize <- positive("window_size", 10)
    } yield Opts(input, outDir, m.getOrElse("input_format", "text"), shardSize,
      minCount, windowSize, m.getOrElse("output_format", "parquet"))
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args).getOrElse { System.err.println(usage); sys.exit(2) }
    val builder = SparkSession.builder()
      .appName("swivel-prep")
      .config("spark.sql.session.timeZone", "UTC")
    // under spark-submit the master comes from the submit config; default
    // to local[*] for direct java invocation
    val spark = (if (sys.props.contains("spark.master")) builder
                 else builder.master("local[*]")).getOrCreate()
    try run(spark, opts) finally spark.stop()
  }

  /** The prep pipeline on a caller-owned session (left running). The
    * corpus is scanned twice: once for the vocab, once for the cell
    * counts, which are materialized once and feed the shards, the
    * marginals and the reported cell count. */
  def run(spark: SparkSession, opts: Opts): Unit = {
    import opts._
    val docs = inputFormat match {
      case "parquet" => spark.read.parquet(input).select("doc_id", "text")
      case _         => Sources.textCorpus(spark, input)
    }
    val vocab = SwivelPrep.buildVocab(docs, minCount, shardSize)
    val vocabSize = vocab.count().toInt
    val counts = SwivelPrep.cellCounts(docs, vocab, windowSize).localCheckpoint()
    try {
      val cells = SwivelPrep.cellWeights(counts, windowSize)
      val sharded = SwivelPrep.shard(cells, vocab, shardSize)
      val marg = SwivelPrep.rowSums(counts, windowSize)
      if (vocabSize == 0) {
        // corpus smaller than one shard: vocab truncates to zero — mirror
        // the parquet path's graceful empty output instead of crashing in
        // the .pb writer's require
        System.err.println(
          s"swivel-prep: vocabulary is empty after truncation to a multiple " +
            s"of shard_size=$shardSize — no shards to write")
      } else if (outputFormat == "pb") {
        // the reference trainer's own input layout: one serialized
        // tensorflow.Example per shard (shard-RRR-CCC.pb) plus the
        // vocab/sums TEXT side files it loads alongside them. Vocab and
        // sums are driver-bounded (truncated vocabulary), so a driver-side
        // text write is the honest scale story; the matrix is symmetric,
        // so row and col files are identical.
        graft.sources.TfExample.writeSwivelPbShards(sharded,
          vocabSize / shardSize, vocabSize, s"$outputDir/shards_pb")
        import org.apache.spark.sql.functions.{col, coalesce, lit}
        import spark.implicits._
        val tokens = vocab.orderBy("id").select("token").as[String].collect()
        // every vocab id gets a sum line; ids with no in-window pairs are 0
        val sums = vocab.select(col("id"))
          .join(marg, Seq("id"), "left")
          .select(col("id"), coalesce(col("marginal"), lit(0.0)).as("m"))
          .orderBy("id").select("m").as[Double].collect()
        def writeLines(name: String, lines: Iterable[String]): Unit =
          java.nio.file.Files.write(java.nio.file.Paths.get(s"$outputDir/$name"),
            (lines.mkString("\n") + "\n").getBytes("UTF-8"))
        writeLines("row_vocab.txt", tokens)
        writeLines("col_vocab.txt", tokens)
        // plain-decimal, never scientific: Double.toString renders small
        // 4dp-rounded marginals as "1.0E-4", which diverges from the
        // reference tooling's one-plain-value-per-line sums layout. The
        // marginals are 4dp-rounded upstream, so fixed %.4f is exact.
        writeLines("row_sums.txt", sums.map(v => f"$v%.4f"))
        writeLines("col_sums.txt", sums.map(v => f"$v%.4f"))
      } else Sources.writeShards(sharded, s"$outputDir/shards")
      Sources.writeSideOutput(vocab, s"$outputDir/vocab")
      Sources.writeSideOutput(marg, s"$outputDir/row_sums")
      println(s"swivel-prep done: vocab=$vocabSize cells=${counts.count()} -> $outputDir")
    } finally {
      // a caller-owned session outlives this call: free the materialized
      // relations instead of leaving their blocks behind
      org.apache.spark.sql.graft.bridge.releaseLocalCheckpoint(counts)
      org.apache.spark.sql.graft.bridge.releaseLocalCheckpoint(vocab)
    }
  }
}
