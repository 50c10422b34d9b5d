package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types._

/** End-to-end parity with the reference's own test corpus
  * (/root/reference/test/data, read-only): the integration-test golden from
  * tests/sql.rs, the smoketest console contract, NDJSON and DDL forms.
  */
class GoldenSpec extends AnyFunSuite with SparkSpec with ReferenceData {

  private lazy val ctx = new Context(spark)

  private val citySchema = StructType(Seq(
    StructField("city", StringType), StructField("lat", DoubleType),
    StructField("lng", DoubleType)))

  refTest("csv_query_with_predicate golden (tests/sql.rs:30-37)") {
    // header=true replicates the reference's hard-coded has_header that
    // consumes headerless row 1 (Elgin) — SURVEY §7.4-4
    ctx.registerCsv("cities", s"$refData/uk_cities.csv", citySchema, header = true)
    val df = ctx.sql(
      "SELECT city, lat, lng, lat + lng FROM cities WHERE lat > 51.0 AND lat < 53")
    val expected =
      "\"Solihull, Birmingham, UK\"\t52.412811\t-1.778197\t50.634614\n\"Cardiff, Cardiff county, UK\"\t51.481583\t-3.17909\t48.302493\n\"Oxford, Oxfordshire, UK\"\t51.752022\t-1.257677\t50.494344999999996\n\"London, UK\"\t51.509865\t-0.118092\t51.391773\n\"Swindon, Swindon, UK\"\t51.568535\t-1.772232\t49.796302999999995\n\"Gravesend, Kent, UK\"\t51.441883\t0.370759\t51.812642\n\"Northampton, Northamptonshire, UK\"\t52.240479\t-0.902656\t51.337823\n\"Rugby, Warwickshire, UK\"\t52.370876\t-1.265032\t51.105844000000005\n\"Sutton Coldfield, West Midlands, UK\"\t52.570385\t-1.824042\t50.746343\n\"Harlow, Essex, UK\"\t51.772938\t0.10231\t51.875248000000006\n\"Swansea, Swansea, UK\"\t51.621441\t-3.943646\t47.677794999999996\n\"Salisbury, Wiltshire, UK\"\t51.068787\t-1.794472\t49.274315\n\"Wolverhampton, West Midlands, UK\"\t52.59137\t-2.110748\t50.480622\n\"Bedford, UK\"\t52.136436\t-0.460739\t51.67569700000001\n\"Basildon, Essex, UK\"\t51.572376\t0.470009\t52.042384999999996\n\"Chippenham, Wiltshire, UK\"\t51.458057\t-2.116074\t49.341983\n\"Haverhill, Suffolk, UK\"\t52.080875\t0.444517\t52.525392\n\"Frankton, Warwickshire, UK\"\t52.328415\t-1.377561\t50.950854\n"
    assert(Render.tsv(df) == expected)
  }

  refTest("smoketest: DDL + chained geospatial UDFs reproduce expected output") {
    val script = scala.io.Source.fromFile(s"$refData/smoketest.sql").mkString
      .replace("'/test/data/", s"'$refData/")
    val out = new java.io.ByteArrayOutputStream()
    scala.Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      script.split(";").map(_.trim).filter(_.nonEmpty).foreach { stmt =>
        println("Executing query ...")
        val df = ctx.sql(stmt)
        if (!graft.sources.Ddl.matches(stmt)) Render.consoleLines(df).foreach(println)
      }
    }
    val got = "DataFusion Console\n" + out.toString("UTF-8")
    val expected = scala.io.Source.fromFile(s"$refData/smoketest-expected.txt").mkString
    def norm(s: String) = s.linesIterator.map(_.trim).filter(_.nonEmpty).toSeq
    assert(norm(got) == norm(expected))
  }

  refTest("NDJSON scan with declared schema (example1.ndjson)") {
    val schema = StructType(Seq(StructField("a", LongType),
      StructField("b", StringType), StructField("c", DoubleType)))
    ctx.registerNdjson("nd", s"$refData/example1.ndjson", schema)
    val rows = ctx.sql("SELECT a, b, c FROM nd ORDER BY a").collect()
    assert(rows.length == 3) // example1.ndjson: 3 records, no trailing newline
    assert(rows(0).getLong(0) == 1 && rows(0).getString(1) == "this is a string"
      && rows(0).getDouble(2) == 12.34)
  }

  refTest("DDL: CSV WITH HEADER ROW") {
    ctx.sql(s"CREATE EXTERNAL TABLE people (id INT, first_name VARCHAR(100)) " +
      s"STORED AS CSV WITH HEADER ROW LOCATION '$refData/people.csv'")
    val rows = ctx.sql("SELECT id, first_name FROM people ORDER BY id").collect()
    assert(rows.map(_.getString(1)).startsWith(Seq("Andy", "Brian", "Chris")))
  }

  refTest("DDL: PARQUET without column list (self-describing)") {
    ctx.sql("CREATE EXTERNAL TABLE atp STORED AS PARQUET " +
      s"LOCATION '$refData/alltypes_plain.parquet'")
    assert(ctx.sql("SELECT count(*) AS n FROM atp").collect().head.getLong(0) > 0)
  }

  refTest("DDL: NDJSON with schema") {
    ctx.sql("CREATE EXTERNAL TABLE nd2 (a BIGINT, b VARCHAR(10), c DOUBLE) " +
      s"STORED AS NDJSON LOCATION '$refData/example1.ndjson'")
    assert(ctx.sql("SELECT count(*) AS n FROM nd2").collect().head.getLong(0) == 3)
  }

  test("DDL: unsigned column types widen per policy") {
    val ext = graft.sources.Ddl.parse(
      "CREATE EXTERNAL TABLE u (a UINT8, b UINT16, c UINT32, d UINT64) " +
        "STORED AS CSV LOCATION '/tmp/x.csv'")
    val s = ext.schema.get
    assert(s("a").dataType == ShortType && s("b").dataType == IntegerType &&
      s("c").dataType == LongType && s("d").dataType == DecimalType(20, 0))
  }

  test("sqrt golden semantics (test_sqrt.csv): sqrt over a projected column") {
    import spark.implicits._
    val got = Seq(1, 2, 3, 4).toDF("n")
      .selectExpr("n", "sqrt(n) AS s").collect()
      .map(r => (r.getInt(0), r.getDouble(1)))
    assert(got(1) == ((2, 1.4142135623730951)) && got(2) == ((3, 1.7320508075688772)))
  }
}
