package org.apache.spark

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Reliable-checkpoint test scaffolding. `setCheckpointDir` has no public
  * inverse, and with a checkpoint dir set every `Materialize.truncate` is
  * reliable — so a test that sets one must unset it, or every later test
  * on the same context silently runs the reliable mode. The setter is
  * package-private to Spark, hence this package. */
object CheckpointDirs {

  /** Runs `body` with a fresh checkpoint dir set on `sc`, unset after. */
  def withDir[T](sc: SparkContext)(body: Path => T): T = {
    val dir = Files.createTempDirectory("graft-ckpt")
    sc.setCheckpointDir(dir.toString)
    try body(dir) finally sc.checkpointDir = None
  }

  /** The `rdd-*` checkpoint directories under `dir`, one per live
    * reliable checkpoint. */
  def rddDirs(dir: Path): Seq[Path] = {
    val s = Files.walk(dir)
    try s.iterator.asScala.filter(_.getFileName.toString.startsWith("rdd-")).toList
    finally s.close()
  }
}
