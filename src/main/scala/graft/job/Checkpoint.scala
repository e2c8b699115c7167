package graft.job

import java.nio.charset.StandardCharsets
import java.util.concurrent.{Callable, ExecutionException, Executors}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

import graft.core.LineageRow

/** Processed-partition manifests (SURVEY.md §4.3, FIXTURES.md §4) — the
  * extraction job's lineage table.
  *
  * One JSON file per completed logical partition, written AFTER that
  * partition's output commits. Resume = skip pids that have a manifest;
  * `ExtractJob.readLineage` = the parsed manifests. Idempotent because
  * doc→pid is `pmod(murmur3(doc_id, Spec.Salt), P)` — a pure function —
  * and the spans sink overwrites dynamically per pid.
  *
  * All I/O resolves through the Hadoop FileSystem of the output path's
  * scheme (`file:/`, `hdfs:`, `s3a:`, …). A `java.nio.Files` probe silently
  * sees nothing on a non-local URI, which for resume would mean a restart
  * against object-store output re-processes every partition (and a torn
  * mixed-scheme write corrupts accounting); the FileSystem API makes the
  * manifest layout (`_manifests/` of small JSON files next to the table)
  * portable as-is. Callers on a live session pass
  * `spark.sessionState.newHadoopConf()` so scheme credentials/config flow
  * through; the default `Configuration` handles local and `file:` paths.
  */
object Checkpoint {

  /** Driver threads writing one wave's manifests. Each manifest is a
    * create + rename (on an object store a PUT plus a copy; on local FS a
    * file and its `.crc`, whose modes `ExtractJob`'s conf sets without
    * forking `chmod`), so a wave's P files are latency-bound, not
    * bandwidth-bound. */
  private val WriterThreads = 8

  private def dir(outputPath: String): Path = new Path(outputPath, "_manifests")

  def manifestPath(outputPath: String, pid: Int): Path =
    new Path(dir(outputPath), f"p$pid%05d.json")

  /** (pid, path) of every committed manifest; in-flight `.json.tmp` files
    * are not manifests. */
  private def manifests(outputPath: String, conf: Configuration): Seq[(Int, Path)] = {
    val d = dir(outputPath)
    val fs: FileSystem = d.getFileSystem(conf)
    if (!fs.exists(d)) Seq.empty
    else
      fs.listStatus(d).toSeq
        .map(_.getPath)
        .collect { case p if p.getName.startsWith("p") && p.getName.endsWith(".json") =>
          p.getName.stripPrefix("p").stripSuffix(".json").toInt -> p
        }
  }

  def completedPids(outputPath: String,
      conf: Configuration = new Configuration()): Set[Int] =
    manifests(outputPath, conf).map(_._1).toSet

  /** The lineage table: every committed manifest, parsed on the driver,
    * ordered by pid. */
  def read(outputPath: String,
      conf: Configuration = new Configuration()): Seq[LineageRow] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    manifests(outputPath, conf).sortBy(_._1).map { case (_, p) =>
      val in = p.getFileSystem(conf).open(p)
      val j = try mapper.readTree(in) finally in.close()
      LineageRow(j.get("run_id").asText, j.get("partition_id").asInt,
        j.get("docs_in").asLong, j.get("docs_out").asLong, j.get("checksum").asText)
    }
  }

  /** Write one wave's manifests: `_manifests/` is created once, then each
    * file is written tmp-then-rename on a bounded driver pool so a crash
    * mid-write never leaves a torn manifest (rename is atomic on HDFS and
    * local FS; a pre-existing manifest is deleted first — only reachable
    * on a non-resume overwrite of an already-complete pid, where either
    * version is valid). The first failure is rethrown. */
  def write(outputPath: String, rows: Seq[LineageRow],
      conf: Configuration = new Configuration()): Unit = if (rows.nonEmpty) {
    val d = dir(outputPath)
    val fs = d.getFileSystem(conf)
    fs.mkdirs(d)
    def writeOne(row: LineageRow): Unit = {
      val json =
        s"""{"run_id":"${row.run_id}","partition_id":${row.partition_id},""" +
          s""""docs_in":${row.docs_in},"docs_out":${row.docs_out},"checksum":"${row.checksum}"}"""
      val tmp = new Path(d, f"p${row.partition_id}%05d.json.tmp")
      val out = fs.create(tmp, true)
      try out.write(json.getBytes(StandardCharsets.UTF_8)) finally out.close()
      val dst = manifestPath(outputPath, row.partition_id)
      if (fs.exists(dst)) fs.delete(dst, false)
      if (!fs.rename(tmp, dst)) sys.error(s"manifest rename failed: $tmp -> $dst")
    }
    val pool = Executors.newFixedThreadPool(math.min(WriterThreads, rows.size))
    try {
      rows.map(r => pool.submit(new Callable[Unit] { def call(): Unit = writeOne(r) }))
        .foreach { f =>
          try f.get() catch { case e: ExecutionException => throw e.getCause }
        }
    } finally pool.shutdownNow()
  }

  def clear(outputPath: String,
      conf: Configuration = new Configuration()): Unit = {
    val d = dir(outputPath)
    val fs = d.getFileSystem(conf)
    if (fs.exists(d)) fs.delete(d, true)
  }
}
