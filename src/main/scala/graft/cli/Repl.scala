package graft.cli

import scala.io.StdIn
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.catalog.Catalog
import graft.format.Formatters

/** The reference's CLI surface (/root/reference/src/cli/main.cpp:59-274)
  * rebuilt on `spark.sql`:
  *
  *  REPL commands — LOAD TABLE n FROM 'f.csv' | SHOW TABLES
  *    | SHOW PIPELINES | DESCRIBE t | EXPLAIN <sql> | SELECT ...
  *    | SET FORMAT markdown|csv | EXIT/QUIT
  *  Batch mode — `--sql "<query>"` with a positional CSV file (or stdin)
  *    registered as table `table` (main.cpp:104-128), and
  *    `--output-format markdown|csv`.
  *  Pipeline views — with `--data-dir <parquet table dir>` (default:
  *    $SPARK_GRAFT_SF_DIR), every library operator is addressable as
  *    `graft_<name>` straight from SQL
  *    (`SELECT * FROM graft_dedup_minhash_lsh`) — lazily registered per
  *    statement by [[graft.sqlapi.SqlRegistry]], so the reference's
  *    everything-through-SQL ergonomics (main.cpp:229-242) extend to
  *    the full pipeline-operator surface.
  *
  * Differences by design (SURVEY §3): the SQL dialect is full Spark SQL
  * (no hand-written parser), and EXPLAIN prints both the optimized
  * logical and the physical plan — a superset of the reference's
  * logical-only output (main.cpp:209-228).
  */
object Repl {

  /** A [[graft.engine.Sessions]] session; `SPARK_MASTER` points the
    * shell at a cluster instead of the local master. */
  def session(): SparkSession = graft.engine.Sessions.create(sys.env.get("SPARK_MASTER"))

  def main(args: Array[String]): Unit = {
    var sqlArg: Option[String] = None
    var format = "markdown"
    var csvPath: Option[String] = None
    var maxRows = Formatters.DefaultMaxRows
    // parquet table dir backing the graft_<operator> pipeline views
    // (SqlRegistry); defaults to the env the Bench/Verify mains use
    var dataDir: Option[String] = sys.env.get("SPARK_GRAFT_SF_DIR")
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--sql" => sqlArg = Some(args(i + 1)); i += 2
        case "--output-format" => format = args(i + 1); i += 2
        case "--data-dir" => dataDir = Some(args(i + 1)); i += 2
        // reference prints every row (formatter.cpp); our default caps at
        // DefaultMaxRows with an explicit truncation marker — this flag
        // restores full-output parity for batch pipelines
        case "--all-rows" => maxRows = Int.MaxValue; i += 1
        case flag if flag.startsWith("--") =>
          System.err.println(s"error: unknown flag $flag"); sys.exit(2)
        case path => csvPath = Some(path); i += 1
      }
    }
    val spark = session()
    spark.sparkContext.setLogLevel("WARN")
    val catalog = new Catalog(spark)

    sqlArg match {
      case Some(sql) =>
        // batch: positional CSV (or stdin) becomes table "table"
        // (main.cpp:104-128 parity). Stdin is only skipped for a
        // pipeline-view query (`SELECT … FROM graft_dedup_minhash_lsh`)
        // with a data dir to back it — a data dir alone (often ambient
        // via SPARK_GRAFT_SF_DIR) must not disable the stdin contract.
        val wantsViews = graft.sqlapi.SqlRegistry.references(sql).nonEmpty
        val path = csvPath.orElse {
          Option.when(dataDir.isEmpty || !wantsViews) {
            val tmp = java.nio.file.Files.createTempFile("graft_stdin", ".csv")
            val in = scala.io.Source.stdin.mkString
            java.nio.file.Files.writeString(tmp, in)
            tmp.toString
          }
        }
        path.foreach(catalog.registerCsv("table", _))
        registerPipelineViews(spark, dataDir, sql)
        print(render(spark.sql(sql), format, maxRows))
      case None => loop(spark, catalog, format, dataDir)
    }
    spark.stop()
  }

  /** Lazily back any `graft_<operator>` identifiers in `sql` with temp
    * views over `dataDir` ([[graft.sqlapi.SqlRegistry]]); a reference
    * without a configured data dir is a user error worth a real message
    * rather than Spark's TABLE_OR_VIEW_NOT_FOUND.
    */
  private def registerPipelineViews(spark: SparkSession,
      dataDir: Option[String], sql: String): Unit = dataDir match {
    case Some(d) => graft.sqlapi.SqlRegistry.ensureFor(spark, d, sql); ()
    case None =>
      if (graft.sqlapi.SqlRegistry.references(sql).nonEmpty)
        throw new IllegalArgumentException(
          "graft_* pipeline views need --data-dir <parquet table dir> " +
            "(or SPARK_GRAFT_SF_DIR)")
  }

  private def render(df: DataFrame, format: String,
      maxRows: Int = Formatters.DefaultMaxRows): String =
    if (format == "csv") Formatters.csv(df, maxRows)
    else Formatters.markdown(df, maxRows)

  /** Reference-exact DESCRIBE rendering (main.cpp:188-208): header line,
    * `Columns:`, then per column `name TYPE (ndv: N[, min: v, max: v])` —
    * min/max only for the reference's ordered types (INT64 / DOUBLE /
    * DATE32; STRING gets ndv only). Types beyond the reference's four
    * (timestamps, arrays from parquet/json loads) print as their Spark
    * names uppercased, ndv-only.
    */
  def describeText(m: graft.catalog.CsvInference.TableMeta): String = {
    def typeName(t: String): String = t match {
      case "date32" => "DATE32"
      case "bigint" | "int" | "smallint" | "tinyint" => "INT64"
      case "double" | "float" => "DOUBLE"
      case "string" => "STRING"
      case other => other.toUpperCase
    }
    val sb = new StringBuilder
    sb.append(s"Table: ${m.name} (${m.rowCount} rows)\n")
    sb.append("Columns:\n")
    m.columns.foreach { c =>
      val tn = typeName(c.typeName)
      val mm =
        if (Set("INT64", "DOUBLE", "DATE32")(tn)) s", min: ${c.min}, max: ${c.max}"
        else ""
      sb.append(s"  ${c.name} $tn (ndv: ${c.ndv}$mm)\n")
    }
    sb.toString
  }

  private val LoadRe = """(?i)^LOAD\s+TABLE\s+(\w+)\s+FROM\s+'([^']+)'\s*;?\s*$""".r
  private val DescribeRe = """(?i)^DESCRIBE\s+(\w+)\s*;?\s*$""".r
  private val SetFormatRe = """(?i)^SET\s+FORMAT\s+(\w+)\s*;?\s*$""".r
  private val ExplainRe = """(?is)^EXPLAIN\s+(.+)$""".r

  def loop(spark: SparkSession, catalog: Catalog, initialFormat: String,
      dataDir: Option[String] = None): Unit = {
    println("graft-sql - Spark-native SQL engine (EXIT to quit)")
    var format = initialFormat
    var done = false
    while (!done) {
      print("sql> ")
      Console.flush()
      val line = StdIn.readLine()
      if (line == null) done = true
      else {
        val trimmed = line.trim
        try {
          trimmed match {
            case "" =>
            case t if t.equalsIgnoreCase("EXIT") || t.equalsIgnoreCase("QUIT") =>
              done = true
            case t if t.equalsIgnoreCase("SHOW TABLES") || t.equalsIgnoreCase("SHOW TABLES;") =>
              catalog.tables.foreach(println)
              if (catalog.tables.isEmpty) println("(no tables)")
            case t if t.equalsIgnoreCase("SHOW PIPELINES") || t.equalsIgnoreCase("SHOW PIPELINES;") =>
              // every library operator, addressable as graft_<name> in SQL
              graft.sqlapi.SqlRegistry.available.foreach(n =>
                println(graft.sqlapi.SqlRegistry.ViewPrefix + n))
            case LoadRe(name, path) =>
              // format by extension: .parquet / .json load natively,
              // anything else goes through reference CSV inference
              val meta =
                if (path.endsWith(".parquet")) catalog.registerParquet(name, path)
                else if (path.endsWith(".json")) catalog.registerJson(name, path)
                else catalog.registerCsv(name, path)
              println(s"loaded ${meta.name}: ${meta.rowCount} rows, ${meta.columns.size} columns")
            case DescribeRe(name) =>
              catalog.describe(name) match {
                case None => println(s"error: Table '$name' not found")
                case Some(m) => print(describeText(m))
              }
            case SetFormatRe(f) =>
              if (Set("markdown", "csv")(f.toLowerCase)) { format = f.toLowerCase; println(s"format=$format") }
              else println(s"error: unknown format $f (markdown|csv)")
            case ExplainRe(sql) =>
              registerPipelineViews(spark, dataDir, sql)
              val qe = spark.sql(sql).queryExecution
              println("== Optimized Logical Plan ==")
              println(qe.optimizedPlan.toString)
              println("== Physical Plan ==")
              println(qe.executedPlan.toString)
            case sql =>
              registerPipelineViews(spark, dataDir, sql)
              print(render(spark.sql(sql), format))
          }
        } catch {
          case NonFatal(e) => println(s"error: ${e.getMessage}")
        }
      }
    }
  }
}
