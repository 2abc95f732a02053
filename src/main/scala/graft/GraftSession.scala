package graft

import org.apache.spark.sql.SparkSession

/** Canonical session factory: every knob the engine depends on in one
  * place (UTC timestamps for oracle parity, shuffle partitions sized to
  * cores not the 200 default, AQE for runtime re-planning/skew splits,
  * nanos-as-long so TIMESTAMP(NANOS)-encoded fixtures still read — the
  * events.ts physical encoding has drifted across fixture generations and
  * ingestion dispatches on the read schema (CoreQueries.tsToMicros) — and
  * the GraftExtensions function installer). Mains and user code build
  * through here.
  *
  * Artifact isolation is off. With Spark's default (on), every session
  * gets its own UUID, and the local executor builds a classloader per
  * UUID. The codegen cache is keyed by classloader as well as code, so
  * each stream start (a cloned session) and each `newSession()`
  * recompiled the same generated classes: about 20 Janino compiles in
  * every warm run of the q380 stream gate. Off, tasks from every
  * session run under the executor's one default classloader and reuse
  * what it has compiled. The trade-off: the engine adds no per-session
  * artifacts (`addArtifact`, `addJar`, `addFile`), but a future caller
  * that does would share them with every other session. The setting
  * binds only at session creation. */
object GraftSession {
  def builder(cores: Int = Runtime.getRuntime.availableProcessors(),
              appName: String = "graft"): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // ANSI pinned ON explicitly (the Spark 4 default, but an engine
      // claiming production use should not depend on the default
      // drifting): every operator must survive strict overflow /
      // div-by-zero / cast semantics — the suite and the full gate
      // battery run under this flag
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // one executor classloader for all sessions, so generated code
      // compiled for one stream start is reused by the next (see above)
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.ui.enabled", "false")

  def local(cores: Int = 4, appName: String = "graft"): SparkSession = {
    val s = builder(cores, appName).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
