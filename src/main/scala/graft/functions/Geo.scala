package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Geospatial UDT surface of the reference (`ST_Point` / `ST_AsText`,
  * /root/reference/test/data/smoketest.sql:2-3, goldens test_sql_udf_udt.csv,
  * test_chaining_functions.csv).
  *
  * The reference models a point as `ScalarValue::Struct` (logicalplan.rs:110);
  * Spark-native equivalent is a plain `struct<x:double,y:double>` column —
  * codegen'd `named_struct` + field access, no UDF and no custom Expression
  * needed. Function chaining (`ST_AsText(ST_Point(x, y))`) composes for free.
  * The SQL-callable versions are registered by `graft.Context.install`.
  */
object Geo {
  /** ST_Point(x, y) → struct<x,y>. */
  def stPoint(x: Column, y: Column): Column =
    struct(x.as("x"), y.as("y"))

  /** ST_AsText(point) → WKT `POINT (x y)`. */
  def stAsText(pt: Column): Column =
    concat(lit("POINT ("), pt.getField("x").cast("string"), lit(" "),
      pt.getField("y").cast("string"), lit(")"))
}
