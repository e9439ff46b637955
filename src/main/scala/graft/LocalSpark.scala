package graft

import org.apache.spark.sql.SparkSession

import java.io.File
import java.nio.file.{Files, Paths}

/** The one place that decides how a local session is configured and where its
  * scratch files (shuffle/spill dirs, staged tables, stream sources and
  * checkpoints) go. `Verify` keeps its own builder: it is the session the pinned
  * oracles were produced under.
  */
object LocalSpark {

  /** Least usable space for `/dev/shm` to be used as scratch. Docker's default
    * `/dev/shm` is 64 MiB: shuffle files, staged tables and stream sources
    * outgrow it and fail with ENOSPC where `java.io.tmpdir` would have had room.
    */
  private val MinShmBytes: Long = 1L << 30

  /** `candidate` when it is a directory with at least `minFree` usable bytes,
    * else `java.io.tmpdir`.
    */
  private[graft] def chooseScratch(candidate: File, minFree: Long): String =
    if (candidate.isDirectory && candidate.getUsableSpace >= minFree) candidate.getPath
    else System.getProperty("java.io.tmpdir")

  /** tmpfs when it is large enough: /tmp sits on the shared virtio disk, whose
    * writeback storms were the dominant run-to-run variance of the bench
    * (BENCH/RESULTS.md §2); a cluster writes to per-executor local disks.
    */
  lazy val scratchBase: String = chooseScratch(new File("/dev/shm"), MinShmBytes)

  /** A fresh directory under [[scratchBase]], deleted on JVM exit. */
  def tempDir(prefix: String): String = {
    val d = Files.createTempDirectory(Paths.get(scratchBase), prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rec(p: File): Unit = {
        val cs = p.listFiles(); if (cs != null) cs.foreach(rec); p.delete(); ()
      }
      rec(d.toFile)
    }))
    d.toString
  }

  /** A local[cpus] session with shuffle partitions = cpus, AQE on and shuffle +
    * spill files under [[scratchBase]]. Stops any active session first, so a
    * caller can switch parallelism levels in one JVM.
    */
  def session(cpus: Int): SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-bench-$cpus")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.local.dir", s"$scratchBase/graft_bench_local")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
