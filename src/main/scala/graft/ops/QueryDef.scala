package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** One gated operator: a Spark implementation plus (usually) a DuckDB
  * oracle producing the identical relation on the same parquet tables.
  * `oracle = None` marks ops the driver checks rows-only (sketches,
  * streaming truth).
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDef {
  def apply(name: String, oracle: String)(
      fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, fn, Some(oracle))
  def noOracle(name: String)(fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, fn, None)

  /** Shared temp root for operators that stage files (bucketed tables,
    * landed edge relations, streaming checkpoints/sinks). Two collision
    * classes are closed here (round-9 advice): the root embeds the JVM's
    * pid so two CONCURRENT drivers over the same dataset cannot wipe each
    * other's checkpoints mid-run, and it embeds the sanitized dataset
    * path itself (not a 32-bit hash of it) so two distinct datasets can
    * never map to one directory. Stable within a process, so bench reps
    * overwrite the same staging instead of accumulating; /tmp roots from
    * past processes are bounded by process count and cleared on reboot. */
  def tmpRoot(tag: String, d: String): String = {
    cleanupHook
    sys.props("java.io.tmpdir") + "/graft_" + tag + "_p" +
      java.lang.ProcessHandle.current().pid() + "_" +
      d.replaceAll("[^A-Za-z0-9._-]", "_")
  }

  /** JVM shutdown hook deleting every `graft_*_p<thisPid>_*` staging
    * root this process created (Landed relations, bucketed tables,
    * streaming checkpoints/sinks). Pid-scoping already prevents
    * cross-process collisions and a reboot clears /tmp, but a
    * long-lived host running many driver/test processes accumulates
    * dead roots between reboots (review finding) — exit-time cleanup
    * bounds /tmp at one process's footprint. Registered lazily on the
    * first tmpRoot call so pure-batch runs add no hook; failures are
    * swallowed (nothing may throw on the exit path — the pid scoping
    * means a leftover root is a nuisance, not a correctness hazard).
    * The cross-process bench mirror (/tmp/graft_bench_mirror_*) is
    * deliberately NOT deleted: it is an inter-run cache keyed by the
    * fixture dir and guarded by its _MIRROR_READY marker. */
  private lazy val cleanupHook: Unit = {
    val pidTag = "_p" + java.lang.ProcessHandle.current().pid() + "_"
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      Option(new java.io.File(sys.props("java.io.tmpdir")).listFiles())
        .toSeq.flatten
        .filter(f => f.getName.startsWith("graft_") && f.getName.contains(pidTag))
        .foreach(f => try Staging.deleteTree(f.getPath)
          catch { case _: Throwable => () })
    }, "graft-staging-cleanup"))
  }
}

/** Cross-engine determinism helpers (SURVEY §2.9).
  *
  * Strategy: every floating-point output is either (a) a raw stored double
  * passed through untouched, (b) an exact DECIMAL computation cast to
  * DOUBLE at the boundary (bit-identical in any engine), or (c) a double
  * expression built from bit-identical operands with the identical
  * operation tree on both sides (IEEE 754 determinism). Rounding is used
  * only on irreducibly-double values and always on already-identical
  * doubles.
  */
object Det {
  /** Exact-sum cast for ≤2dp money/measure columns (FIXTURES.md). */
  def dec(c: Column): Column = c.cast(DecimalType(18, 4))
  /** Tight money cast used inside products so scales stay small. */
  def money(c: Column): Column = c.cast(DecimalType(12, 2))
  /** 2dp rate in [0,1] (discount, tax). */
  def rate(c: Column): Column = c.cast(DecimalType(4, 2))
  def dbl(c: Column): Column = c.cast(DoubleType)

  /** Shared in-plan guard for range-normalizing operators
    * (agg_histogram, sim_quantize): a DEGENERATE non-empty range
    * (hi == lo, i.e. a constant column) raises a diagnostic error
    * instead of the opaque NaN-cast failure the division would cause
    * downstream; an EMPTY input (null max) passes the null through —
    * the fact side of the crossJoin is empty too, so the query returns
    * zero rows, matching the oracle. */
  import org.apache.spark.sql.functions.{when, raise_error, lit}
  def guardedHi(lo: Column, hi: Column, opName: String): Column =
    when(hi.isNotNull && !(hi > lo),
      raise_error(lit(s"$opName: degenerate range (hi <= lo)")).cast(DoubleType))
      .otherwise(hi)
}

/** Honest-measurement hook for session-scoped one-time work: bumped by
  * `SessionMemo`, once per fill, never on a hit. Bench snapshots the
  * counter around rep 1 of each key, and any key whose first invocation
  * filled a memo gets its rep-1 wall time recorded in the artifact's
  * "cold_s" map, so the min-of-reps stat can never erase the one-time
  * cost from the record. A fill is attributed to whichever key paid it,
  * which is exactly what the wall clock says. */
object ColdWork {
  private val n = new java.util.concurrent.atomic.AtomicLong(0L)
  private[ops] def note(): Unit = { n.incrementAndGet(); () }
  def count: Long = n.get
}

/** Session-scoped "compute once" memo: one value per (session, dataset,
  * tag), built by the first call and returned to every later one. It is
  * the one rule every landed relation, trained index and certification
  * memo follows:
  *   - entries of stopped sessions drop first, so a dead session's
  *     checkpoint blocks and the session itself are never pinned;
  *   - `build` runs under `computeIfAbsent`, so a key fills exactly once
  *     (a concurrent call for it waits rather than duplicating a long
  *     build), and a `build` that throws leaves no entry (the next call
  *     retries);
  *   - every fill bumps `ColdWork`, every hit does not.
  * Each instance owns its map: a `build` may call a DIFFERENT memo (the
  * swivel cooc fill reads the vocab memo, the TPC-H parity run reaches
  * `Landed.once`), but never its own instance — `ConcurrentHashMap`
  * rejects a re-entrant `computeIfAbsent` with "Recursive update". */
final class SessionMemo[V] {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), V]()

  def apply(s: SparkSession, d: String, tag: String)(build: => V): V = {
    cache.keySet.removeIf(k => k._1.sparkContext.isStopped)
    cache.computeIfAbsent((s, d, tag), { _ =>
      val v = build
      ColdWork.note()
      v
    })
  }
}

object SessionMemo {
  /** `_s<identityHash>`: the owning session's identity in a staging path
    * or catalog name. */
  def sessionTag(s: SparkSession): String =
    "_s" + Integer.toHexString(System.identityHashCode(s))

  /** `QueryDef.tmpRoot` scoped to the owning session: two live sessions
    * in one JVM get separate directories, so one session's `overwrite`
    * never deletes files the other is scanning. */
  def root(s: SparkSession, prefix: String, d: String): String =
    QueryDef.tmpRoot(prefix + sessionTag(s), d)
}

/** Landed relations: ONE parquet materialization per (session, dataset,
  * tag), read back by every key that consumes the same derived base
  * relation (the graph family's edge relations, the partsupp TPC-H
  * batch, the incremental-aggregation MV). At 100 TB these derived dims
  * are landed tables maintained beside the facts; landing once per
  * session is the local-mode analog. The path is tmpRoot-stable within a
  * process, so bench reps reuse the file. */
object Landed {
  private val memo = new SessionMemo[String]

  /** Lands `build` once per (session, dataset, tag), returns a reader.
    * `build` must not recurse into `once` (see `SessionMemo`): helpers
    * deriving from another landed relation force their base OUTSIDE the
    * closure. */
  def once(s: SparkSession, d: String, tag: String)(
      build: => DataFrame): DataFrame = {
    val path = memo(s, d, tag) {
      val root = SessionMemo.root(s, "ld_" + tag, d)
      build.write.mode("overwrite").parquet(root)
      root
    }
    s.read.parquet(path)
  }
}

/** Shared filesystem staging helpers (the Events/Formats tmp-dir
  * lifecycle): failures THROW (java.nio) — a silently-failed delete
  * surfaces later as an opaque driver hash mismatch, an IOException
  * surfaces here with the path in hand. */
object Staging {
  def deleteTree(root: String): Unit = {
    val p = java.nio.file.Paths.get(root)
    if (java.nio.file.Files.exists(p)) {
      val walk = java.nio.file.Files.walk(p)
      try
        walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(f => java.nio.file.Files.delete(f))
      finally walk.close()
    }
  }
}
