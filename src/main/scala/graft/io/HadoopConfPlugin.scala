package graft.io

import java.lang.reflect.Field
import java.util.{Collections, Map => JMap}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.SparkContext
import org.apache.spark.api.plugin.{DriverPlugin, ExecutorPlugin, PluginContext, SparkPlugin}
import org.apache.spark.internal.Logging

/** Drops the per-key provenance from the `SparkContext`'s Hadoop conf,
  * so that no copy of it carries one. Keys and values stay as they are.
  *
  * Provenance is Hadoop's private `Configuration.updatingResource`: for
  * each key, the names of the XML files (or "programmatically") it came
  * from. `Configuration.write` gzips those names per key
  * (`WritableUtils.writeCompressedStringArray`), and every file-write
  * task carries two copies of the session's conf (the write job's and
  * its stats tracker's). With about 1,100 keys, each such task binary
  * held about 2,200 gzip streams, and each task opened as many
  * `GZIPInputStream`s to read it back: one conf took 114 KB and 12 ms to
  * deserialize, and 70 KB and 1.3 ms without provenance.
  *
  * Hadoop has no public call that drops provenance, so the field is
  * cleared by reflection. Hadoop reads it only to report where a key
  * came from (`getPropertySources`, the XML and JSON dumps) and in
  * `write`; Spark's one reader, the environment page, takes a missing
  * entry as no source. Keys set after the clear record theirs as
  * before.
  *
  * It runs as a driver plugin, set on `GraftSession.builder`, so every
  * new `SparkContext` clears its conf before the `SharedState` copies it.
  */
class HadoopConfPlugin extends SparkPlugin {
  override def driverPlugin(): DriverPlugin = new DriverPlugin {
    override def init(sc: SparkContext, ctx: PluginContext): JMap[String, String] = {
      HadoopConfPlugin.dropProvenance(sc.hadoopConfiguration)
      Collections.emptyMap()
    }
  }

  override def executorPlugin(): ExecutorPlugin = null
}

object HadoopConfPlugin extends Logging {
  /** The private provenance field, or `None` (with one WARN) on a
    * Hadoop version without it. */
  private[graft] lazy val provenance: Option[Field] =
    try {
      val f = classOf[Configuration].getDeclaredField("updatingResource")
      f.setAccessible(true)
      Some(f)
    } catch { case e: ReflectiveOperationException =>
      logWarning(s"Hadoop conf provenance not dropped, the file-write task binaries stay large: $e")
      None
    }

  /** Clears `conf`'s provenance. A class that adds a default resource
    * (`core-default.xml`, `hdfs-default.xml`, …) makes every conf reload
    * its resources the first time it loads, which records their
    * provenance again. So the `FileSystem` classes, which add the last
    * such resources on the first file-system lookup, are loaded first,
    * and so are the conf's own resources. Clearing twice is harmless. */
  def dropProvenance(conf: Configuration): Unit = provenance.foreach { f =>
    FileSystem.getFileSystemClass("file", conf)
    conf.size()
    f.get(conf).asInstanceOf[JMap[_, _]].clear()
  }
}
