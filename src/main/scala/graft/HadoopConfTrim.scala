package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileSystem
import org.apache.hadoop.mapred.JobConf
import org.apache.spark.SparkContext
import org.apache.spark.api.plugin.{DriverPlugin, ExecutorPlugin, PluginContext, SparkPlugin}
import org.slf4j.LoggerFactory

import java.util.{Collections, Map => JMap}
import scala.util.control.NonFatal

/** The `spark.plugins` entry `GraftSession` sets: when a SparkContext
  * starts, before any work runs, it drops the per-property source list
  * from the context's Hadoop conf ([[HadoopConfTrim.dropSources]]). It has
  * no executor side. */
class HadoopConfTrim extends SparkPlugin {
  override def driverPlugin(): DriverPlugin = new DriverPlugin {
    override def init(sc: SparkContext, ctx: PluginContext): JMap[String, String] = {
      HadoopConfTrim.dropSources(sc.hadoopConfiguration)
      Collections.emptyMap()
    }
  }
  override def executorPlugin(): ExecutorPlugin = null
}

object HadoopConfTrim {
  private val log = LoggerFactory.getLogger(classOf[HadoopConfTrim])

  /** Clears `conf`'s property sources, Hadoop's map from each property to
    * the resources that set it (`field`); values are untouched. Nothing on
    * the engine's paths reads the sources, which only back
    * `getPropertySources`, and writing them costs one gzip per string
    * (see `GraftSession`).
    *
    * A default resource added later (a class such as `JobConf` or
    * `DistributedFileSystem` initialised for the first time) reloads every
    * conf, sources included. So this first loads every default resource
    * the engine's work would load, the mapred and yarn ones through
    * `JobConf` and the hdfs ones through the `FileSystem` service load,
    * then loads the properties and clears the map.
    *
    * Returns false, logs one WARN naming the field and leaves `conf` as it
    * is when that fails (a Hadoop without the field); never throws. */
  def dropSources(conf: Configuration, field: String = "updatingResource"): Boolean =
    try {
      new JobConf(conf)
      FileSystem.getFileSystemClass("file", conf)
      val sources = classOf[Configuration].getDeclaredField(field)
      sources.setAccessible(true)
      conf.synchronized {
        conf.size()
        sources.get(conf).asInstanceOf[JMap[_, _]].clear()
      }
      true
    } catch {
      case NonFatal(e) =>
        log.warn(s"Hadoop conf keeps its property sources: cannot clear " +
          s"Configuration.$field ($e)")
        false
    }
}
