package graft

import org.apache.spark.sql.SparkSession

/** Shared session factory for the engine's mains: one place for the confs
  * that affect correctness/scale so Verify, Bench and perfbench can't drift.
  * Injects the custom-function SQL surface (GraftSql) so every engine
  * session can call nfkc_normalize etc. from SQL text. The two
  * `spark.hadoop.fs.*file.impl` entries swap in a local file system that
  * sets permissions and resolves links in-process
  * ([[graft.sources.NioRawLocalFileSystem]]): without libhadoop the stock
  * one forks a `chmod` per file or directory written and a `readlink` per
  * checkpoint-log rename. */
object Sessions {
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(graft.functions.GraftSql.injectInto _)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // JVM-wide whole-stage-codegen compile cache (static conf; default
      // 100). The engine's registry runs hundreds of distinct plans —
      // thousands of codegen fragments — so at the default every pass
      // re-Janino-compiles nearly every fragment it meets (measured r18:
      // a 50-query battery dropped 18.0s -> 13.0s at 5000). Scale-safe:
      // the cache holds compiled classes (~tens of KB each) and any
      // driver/executor running a many-query workload wants it larger;
      // bounded, and overridable for memory-constrained deployments.
      .config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "5000"))
      // testdata events.ts is TIMESTAMP(NANOS); read as long, Tables converts
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // keep the (unused) catalog warehouse out of the process cwd —
      // otherwise every run drops a spark-warehouse/ dir in the repo root
      .config("spark.sql.warehouse.dir",
        sys.props("java.io.tmpdir") + "/graft-warehouse")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.sources.NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.sources.NioLocalFs].getName)
}
