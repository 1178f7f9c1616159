package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** The schema algebra of the document store's recorded line schema
  * (same packaging constraint as the expression files: `merge` and
  * `asNullable` are internal `StructType` API). */
object StoreSchemas {

  /** The schema a parquet read reports for files written from a frame
    * of schema `s`: every field nullable, nested fields included. */
  def asRead(s: StructType): StructType = s.asNullable

  /** Parquet schema merging's union — the rule `mergeSchema` folds
    * footers with: `a`'s fields in their order, then `b`'s new fields
    * in theirs, nested structs merged the same way, names compared
    * with the session's case sensitivity; incompatible types throw. */
  def union(spark: SparkSession, a: StructType, b: StructType): StructType =
    a.merge(b, spark.sessionState.conf.caseSensitiveAnalysis)
}
