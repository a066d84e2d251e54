package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Typed access to the driver-generated parquet tables (TESTDATA.md).
  *
  * The reference reads raw local files per app (`client.go:21-24`); we read
  * columnar parquet so Catalyst can push filters and prune columns into the
  * scan — the scan itself is the first operator of every plan.
  */
final case class Tables(spark: SparkSession, dir: String) {
  def table(name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val known = Tables.schemaMemo.get(path)
    if (known != null) spark.read.schema(known).parquet(path)
    else {
      val df = spark.read.parquet(path)
      Tables.schemaMemo.put(path, df.schema)
      df
    }
  }

  def region: DataFrame    = table("region")
  def nation: DataFrame    = table("nation")
  def customer: DataFrame  = table("customer")
  def supplier: DataFrame  = table("supplier")
  def part: DataFrame      = table("part")
  def orders: DataFrame    = table("orders")
  def lineitem: DataFrame  = table("lineitem")
  def events: DataFrame    = table("events")
  def documents: DataFrame = table("documents")
  def embeddings: DataFrame = table("embeddings")
}

object Tables {
  /** SCHEMA memo for the immutable driver fixture tables (TESTDATA.md:
    * "Read-only — do NOT regenerate or modify"): a schema-less path-based
    * parquet read submits one footer-sampling Spark job per call, and
    * every gate re-reads its tables every run — pure per-job latency for
    * metadata that cannot change. This is the catalog treatment a
    * production table gets from its metastore: METADATA only — never
    * rows, never query results — keyed on the resolved path, surviving
    * session recycles exactly as a metastore would. Caching table data or
    * query results across runs stays forbidden (and absent). The one
    * other cross-run driver memo, [[graft.operators.StoreFs.frozen]], is
    * a validated MODEL memo, not a result cache: it holds a store's
    * bounded frozen codebooks and tombstone ids, checked against the
    * files' identity on every use and re-read when they change.
    */
  private val schemaMemo = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.types.StructType]()
}
