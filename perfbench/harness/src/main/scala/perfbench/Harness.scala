package perfbench

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.{Files, Paths}

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one process is one cold run of one
  * workload, as one spark-submit of it would be. perfbench/run.py
  * generates the inputs, starts this with
  *
  *   perfbench.Harness --workload swivel|mix --trace 0|1 --work DIR
  *     --result FILE [workload options]
  *
  * and checks everything it writes to FILE against the oracle. The JVM
  * only runs and times the program; it judges nothing itself.
  *
  * Set-up is JVM start, the first session and one small warm-up query
  * (Bench's), after which the session is stopped. Timed runs then run
  * the workload's operation once; traced runs run it with spans around
  * the calls into each layer (see Tracer).
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val mainAt = System.nanoTime()
    val jvmToMain = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val o = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val result = o("workload") match {
      case "swivel" => SwivelRun(o, () => setup(jvmToMain, mainAt, SparkSession.builder()))
      case "mix"    => MixRun(o, () => setup(jvmToMain, mainAt, MixRun.builder(o("cores"))))
      case w        => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val all = result ++ Map(
      "peak_rss_mb" -> peakRssMb(),
      "spans" -> Trace.spans.toSeq.map(spanJson))
    Files.writeString(Paths.get(o("result")), Json(all))
  }

  /** First session plus Bench's warm-up query; returns the seconds since
    * JVM start. The session is stopped: every operation builds its own. */
  def setup(jvmToMain: Double, mainAt: Long, builder: SparkSession.Builder): Double = {
    val spark = builder.getOrCreate()
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.stop()
    jvmToMain + seconds(mainAt)
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** The process's resident-set high-water mark (VmHWM). */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try {
      val line = src.getLines().find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
      line.split("\\s+")(1).toDouble / 1024.0
    } finally src.close()
  }

  /** Runs `body`, returning its wall time and its failure, if any. */
  def timed(body: => Unit): (Double, String) = {
    val t0 = System.nanoTime()
    val err = try { body; null } catch { case e: Throwable => e.toString }
    (seconds(t0), err)
  }

  def drainOf(spark: SparkSession): () => Unit = () => Bus.drain(spark.sparkContext)

  /** Bytes read through Hadoop's local file system so far. */
  def localBytesRead(): Long = {
    import scala.jdk.CollectionConverters._
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesRead).sum
  }

  private def spanJson(s: Span): Map[String, Any] = {
    val c = s.counts
    Map("name" -> s.name, "seconds" -> s.seconds, "jobs" -> c.jobs,
      "stages" -> c.stages, "tasks" -> c.tasks, "widest_stage_tasks" -> c.widestStage,
      "executor_run_ms" -> c.runMs, "shuffle_write_bytes" -> c.shuffleWrite,
      "shuffle_read_bytes" -> c.shuffleRead, "spill_bytes" -> c.spill,
      "input_bytes" -> c.input)
  }
}

/** `swivel`: the paper's prep CLI, one in-process `SwivelMain.main` call.
  * The call builds and stops its own session; the master comes from the
  * `spark.master` system property, as under spark-submit. */
object SwivelRun {
  import graft.swivel.{SwivelMain, SwivelPrep}
  import graft.sources.{Sources, TfExample}
  import Harness._

  def apply(o: Map[String, String], setup: () => Double): Map[String, Any] = {
    val work = o("work")
    val setupS = setup()
    if (o("trace") != "1") return Map("setup_s" -> setupS, "calls" -> Seq(call(o, s"$work/call")))
    // traced: a discarded call warms the JIT so that the staged pipeline
    // and the traced call compare like with like
    val warm = call(o, s"$work/call_warmup")
    val staged = stagedPipeline(o, s"$work/staged")
    val read0 = localBytesRead()
    val traced = Trace.span("swivel.call", () => ())(call(o, s"$work/call_traced"))
    Map("setup_s" -> setupS, "calls" -> Seq(warm, traced), "staged_out" -> staged,
      "call_bytes_read" -> (localBytesRead() - read0))
  }

  def cliArgs(o: Map[String, String], out: String): Array[String] =
    Array("--input", o("corpus"), "--output_dir", out,
      "--shard_size", o("shard_size"), "--min_count", o("min_count"),
      "--window_size", o("window_size"), "--output_format", "pb")

  /** One CLI call; its stdout (the final summary line) is kept so the
    * checker can read the cell count the program reports. */
  def call(o: Map[String, String], out: String): Map[String, Any] = {
    val buf = new ByteArrayOutputStream()
    val (dt, err) = timed {
      Console.withOut(new PrintStream(buf, true, "UTF-8")) {
        SwivelMain.main(cliArgs(o, out))
      }
    }
    Map("wall_s" -> dt, "out" -> out, "stdout" -> buf.toString("UTF-8"), "error" -> err)
  }

  /** The CLI's stages called one by one through their public functions,
    * in SwivelMain's order, each forced and timed as its own span. Cells
    * and marginals are materialized inside their spans so the `.pb`
    * write span times the writer alone. Writes the same files as the CLI,
    * so the checker verifies them too. */
  def stagedPipeline(o: Map[String, String], out: String): String = {
    val shardSize = o("shard_size").toInt
    val minCount = o("min_count").toInt
    val window = o("window_size").toInt
    val spark = SparkSession.builder().appName("swivel-prep")
      .config("spark.sql.session.timeZone", "UTC").getOrCreate()
    val drain = drainOf(spark)
    try {
      val (docs, vocab, vocabSize) = Trace.span("swivel.vocab", drain) {
        val docs = Sources.textCorpus(spark, o("corpus"))
        val vocab = SwivelPrep.buildVocab(docs, minCount, shardSize)
        vocab.cache()
        (docs, vocab, vocab.count().toInt)
      }
      val cells = Trace.span("swivel.cooc", drain) {
        SwivelPrep.cooc(docs, vocab, window).localCheckpoint()
      }
      val marg = Trace.span("swivel.marginals", drain) {
        SwivelPrep.marginals(docs, vocab, window).localCheckpoint()
      }
      Files.createDirectories(Paths.get(out))
      Trace.span("sources.pb_write", drain) {
        TfExample.writeSwivelPbShards(SwivelPrep.shard(cells, vocab, shardSize),
          vocabSize / shardSize, vocabSize, s"$out/shards_pb")
      }
      Trace.span("swivel.sums", drain) {
        import org.apache.spark.sql.functions.{col, coalesce, lit}
        import spark.implicits._
        val tokens = vocab.orderBy("id").select("token").as[String].collect()
        val sums = vocab.select(col("id"))
          .join(marg, Seq("id"), "left")
          .select(col("id"), coalesce(col("marginal"), lit(0.0)).as("m"))
          .orderBy("id").select("m").as[Double].collect()
        def lines(name: String, ls: Seq[String]): Unit =
          Files.write(Paths.get(s"$out/$name"), (ls.mkString("\n") + "\n").getBytes("UTF-8"))
        lines("row_vocab.txt", tokens.toSeq)
        lines("col_vocab.txt", tokens.toSeq)
        lines("row_sums.txt", sums.toSeq.map(v => f"$v%.4f"))
        lines("col_sums.txt", sums.toSeq.map(v => f"$v%.4f"))
      }
      Trace.span("sources.side_write", drain) {
        Sources.writeSideOutput(vocab, s"$out/vocab")
        Sources.writeSideOutput(marg, s"$out/row_sums")
      }
      out
    } finally spark.stop()
  }
}

/** `mix`: gated operator keys over the multi-split mirror, in one
  * session with Bench's settings: every key once cold (pass 1), then
  * once more warm (pass 2). A key that throws is recorded with its error
  * and never as a time. */
object MixRun {
  import graft.SparkEntry
  import graft.ops.ColdWork
  import Harness._

  def builder(cores: String): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cores]")
    .config("spark.sql.shuffle.partitions", cores)
    .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")

  def apply(o: Map[String, String], setup: () => Double): Map[String, Any] = {
    val keys = o("keys").split(",").toSeq
    val failKey = o.getOrElse("fail_key", "")
    val fns = keys.map { k =>
      k -> (if (k == failKey) (_: SparkSession, _: String) =>
        throw new IllegalStateException(s"$k: failure injected by --fail_key")
      else SparkEntry.queries(k))
    }
    val dir = o("mirror")
    val traced = o("trace") == "1"
    val oracle = keys.flatMap(k => SparkEntry.oracleSql.get(k).map(k -> _)).toMap
    Files.writeString(Paths.get(s"${o("work")}/oracle_sql.json"), Json(oracle))

    def pass(spark: SparkSession, tag: String): Map[String, Any] = {
      val c0 = ColdWork.count
      val t0 = System.nanoTime()
      val per = fns.map { case (k, fn) =>
        var rows = -1L
        val (dt, err) = timed {
          if (traced) Trace.span(s"q.$k.$tag", drainOf(spark)) { rows = fn(spark, dir).count() }
          else rows = fn(spark, dir).count()
        }
        Map("key" -> k, "seconds" -> dt, "rows" -> rows, "error" -> err)
      }
      Map("seconds" -> seconds(t0), "fills" -> (ColdWork.count - c0),
        "staging_bytes" -> stagingBytes(), "keys" -> per)
    }

    val setupS = setup()
    val t0 = System.nanoTime()
    val spark = builder(o("cores")).getOrCreate()
    val cold = pass(spark, "cold")
    val warm = pass(spark, "warm")
    val wall = seconds(t0)
    // the correctness dump, outside the timing: graft.Verify's layout
    // (one single-file parquet directory per key)
    o.get("dump").foreach { out =>
      fns.foreach { case (k, fn) =>
        try fn(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$out/$k")
        catch { case e: Throwable => System.err.println(s"[perfbench] dump of $k failed: $e") }
      }
    }
    spark.stop()
    Map("setup_s" -> setupS, "wall_s" -> wall, "cold" -> cold, "warm" -> warm)
  }

  /** Bytes the session memos and landings left under java.io.tmpdir. */
  def stagingBytes(): Long = {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    def size(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(size).sum else f.length()
    Option(tmp.listFiles()).toSeq.flatten.filter(_.getName.startsWith("graft_")).map(size).sum
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null                 => "null"
    case s: String            => quote(s)
    case b: Boolean           => b.toString
    case d: Double            => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int               => n.toString
    case n: Long              => n.toString
    case m: Map[_, _]         => m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_]       => s.map(apply).mkString("[", ",", "]")
    case Some(x)              => apply(x)
    case None                 => "null"
    case other                => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case '\n'         => "\\n"
    case '\r'         => "\\r"
    case '\t'         => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  } + "\""
}
