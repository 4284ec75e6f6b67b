package graft.harvest

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Source layer.
  *
  * A1 — the reference fetches LIMIT/OFFSET pages sequentially
  * (harvest.py:54-87,405-416); the `graft-bindings` DSv2 connector
  * ([[graft.sources.BindingsPageSource]]) plans one input partition per
  * page so pages fetch in parallel across executors.
  * A2 — per-page retry with exponential backoff (harvest.py:144-158,
  * [[withRetry]]) runs inside the connector's partition reader; Spark task
  * retries are the backstop.
  *
  * File-based bindings (the portable path) are plain parquet/json reads
  * with the fixed bindings schema — no inference.
  */
object Source {

  /** Marker for transient, retryable fetch failures (the reference retries
    * only HTTP 502 — harvest.py:150). */
  class TransientFetchException(msg: String, cause: Throwable = null)
    extends RuntimeException(msg, cause)

  /** A2: retry `f` up to `maxRetries` times on [[TransientFetchException]],
    * sleeping baseDelayMs * 2^attempt between attempts (harvest.py:144-158). */
  def withRetry[T](maxRetries: Int = 3, baseDelayMs: Long = 1000)(f: => T): T = {
    var attempt = 0
    while (true) {
      try return f
      catch {
        case e: TransientFetchException =>
          if (attempt >= maxRetries) throw e
          Thread.sleep(baseDelayMs * (1L << attempt))
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Read a bindings file (parquet or json by extension) with the fixed
    * schema. */
  def readBindings(spark: SparkSession, path: String): DataFrame =
    if (path.endsWith(".json") || path.endsWith(".jsonl"))
      spark.read.schema(Schemas.bindings).json(path)
    else
      spark.read.schema(Schemas.bindings).parquet(path)
}
