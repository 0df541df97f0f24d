package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, expr}
import graft.ops.{ColdWork, SessionMemo}

/** The one session-scoped memo every landing, trained index and
  * certification memo goes through, and the guard that keeps it the
  * only one. */
class SessionMemoSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val d = "/root/testdata/sf0.001"

  test("SessionMemo: a hit skips build and ColdWork; each new tag or dataset fills once") {
    val memo = new SessionMemo[String]
    var builds = 0
    def call(ds: String, tag: String) = memo(spark, ds, tag) { builds += 1; s"$ds/$tag" }
    val c0 = ColdWork.count
    assert(call("d1", "a") == "d1/a")
    assert(builds == 1 && ColdWork.count == c0 + 1)
    assert(call("d1", "a") == "d1/a")
    assert(builds == 1 && ColdWork.count == c0 + 1)
    assert(call("d1", "b") == "d1/b" && call("d2", "a") == "d2/a")
    assert(call("d1", "b") == "d1/b" && call("d2", "a") == "d2/a")
    assert(builds == 3 && ColdWork.count == c0 + 3)
  }

  test("SessionMemo: a build that throws leaves no entry, so the next call retries") {
    val memo = new SessionMemo[Int]
    var builds = 0
    val c0 = ColdWork.count
    intercept[IllegalStateException] {
      memo(spark, "d", "t") { builds += 1; throw new IllegalStateException("boom") }
    }
    assert(ColdWork.count == c0)
    assert(memo(spark, "d", "t") { builds += 1; 7 } == 7)
    assert(memo(spark, "d", "t") { builds += 1; 8 } == 7)
    assert(builds == 2 && ColdWork.count == c0 + 1)
  }

  test("SessionMemo: a second session gets its own entry and its own staging root") {
    val other = spark.newSession()
    val memo = new SessionMemo[String]
    assert(memo(spark, "d", "t")("first") == "first")
    assert(memo(other, "d", "t")("second") == "second")
    assert(memo(spark, "d", "t")("again") == "first")
    assert(SessionMemo.root(spark, "x", "d") != SessionMemo.root(other, "x", "d"))
  }

  test("SessionMemo: a build may fill a different memo instance on the same key") {
    // on one shared ConcurrentHashMap this nesting raises "Recursive update"
    val inner = new SessionMemo[Int]
    val outer = new SessionMemo[Int]
    assert(outer(spark, "d", "t")(inner(spark, "d", "t")(20) + 1) == 21)
  }

  test("SessionMemo: entries of a stopped session are evicted (own JVM, own SparkContext)") {
    // stopping a context here would stop the suite's shared session, so the
    // probe runs in a child JVM with this JVM's classpath and flags
    val jvmArgs = scala.jdk.CollectionConverters.ListHasAsScala(
      java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments).asScala
      .filterNot(_.startsWith("-Xmx"))
    val cmd = Seq(sys.props("java.home") + "/bin/java") ++ jvmArgs ++
      Seq("-Xmx1g", "-cp", sys.props("java.class.path"), "graft.SessionMemoEvictionProbe")
    val p = new ProcessBuilder(cmd: _*)
      .redirectError(ProcessBuilder.Redirect.DISCARD).start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    assert(p.waitFor(180, java.util.concurrent.TimeUnit.SECONDS), "probe JVM hung")
    assert(p.exitValue() == 0, s"probe JVM failed:\n$out")
    // fill, hit, then (after stop) the dead entry is gone and rebuilds
    assert(out.linesIterator.contains("builds=1,1,2"), out)
  }

  test("maintenance_incremental_agg: two live sessions land the MV in distinct roots, both exact") {
    val other = spark.newSession()
    val q = SparkEntry.queries("maintenance_incremental_agg")
    val oracleRows = Tables.events(spark, d)
      .select(expr("unix_micros(cast(ts as timestamp)) div 86400000000").as("day"),
        col("event_type"))
      .distinct().count()
    def mvRoots(s: SparkSession): Set[String] = {
      val df = q(s, d)
      assert(df.count() == oracleRows)
      df.inputFiles.toSet
        .map((f: String) => f.split("/").find(_.contains("mv_daily")).getOrElse(""))
        .filter(_.startsWith("graft_"))
    }
    val a = mvRoots(spark)
    val b = mvRoots(other)
    assert(a.size == 1 && b.size == 1, s"MV roots: $a, $b")
    assert(a != b, s"two live sessions share one MV root: $a")
  }

  test("guard: SessionMemo is the only memo map and the only ColdWork.note() caller") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root (no ${root.getAbsolutePath})")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    // the text of SessionMemo's class body, from its header to the closing
    // brace at column 0
    def memoBody(src: String): String = {
      val a = src.indexOf("final class SessionMemo[")
      if (a < 0) "" else src.substring(a, src.indexOf("\n}", a))
    }
    val hits = for {
      f <- files(root)
      src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      outside = src.replace(memoBody(src), "")
      // a call, or the map's type or constructor (prose may name it)
      token <- Seq("""ColdWork\.note\(""", """ConcurrentHashMap\s*[\[(]""")
      if token.r.findFirstIn(outside).isDefined
    } yield s"${root.toPath.relativize(f.toPath)}: $token"
    assert(hits.isEmpty, "hand-rolled session memo outside SessionMemo " +
      s"(fill it through graft.ops.SessionMemo so Bench's cold_s sees it): $hits")
    val all = files(root).map(f => new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
    assert(all.map(memoBody).map("""ColdWork\.note\(""".r.findAllMatchIn(_).size).sum == 1)
  }
}

/** Child-JVM half of the eviction test: one memo, one session that is
  * filled, hit, stopped and asked again. Prints the build count after
  * each call. */
object SessionMemoEvictionProbe {
  def main(args: Array[String]): Unit = {
    val s = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false").getOrCreate()
    val memo = new SessionMemo[Int]
    var builds = 0
    def call(): Int = { memo(s, "d", "t") { builds += 1; builds }; builds }
    val seen = Seq(call(), call(), { s.stop(); call() })
    println("builds=" + seen.mkString(","))
  }
}
