package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Dictionary-driven CSV ingestion (SURVEY.md §2.1 S6 + §2.7 D10): the
  * reference stages auxiliary NYC datasets as CSV files accompanied by
  * data-dictionary CSVs (`dict_*.csv` with column_name/type rows) and a
  * prose schema-evolution playbook ("same columns -> rename; new
  * columns -> drop & recreate"). Here that becomes:
  *
  *  - [[schemaFromDictionary]]: dictionary rows -> explicit StructType
  *    (never autodetect on dirty civic CSVs)
  *  - [[readWithDictionary]]: schema'd CSV read, malformed rows
  *    preserved in a corrupt-record column for quarantine
  *  - [[applyRenames]]: the "same columns, new names" evolution step as
  *    a data-driven rename map (the D10 playbook's cheap path)
  * Declared by README row "S6 dictionary-driven aux CSV".
  */
object DictionaryIngest {

  /** Map the dictionary's type vocabulary onto Spark types. The
    * reference dictionaries use loose names (STRING, NUMBER, Plain
    * Text, Date...); unknown types conservatively land on String. */
  def toSparkType(t: String): DataType =
    Option(t).getOrElse("").trim.toLowerCase match {
    case "string" | "text" | "plain text" | "varchar" => StringType
    case "integer" | "int" | "long" | "bigint" => LongType
    // Socrata/NYC "Number" columns routinely hold decimals — a Long
    // mapping would mass-quarantine every '2.35' under PERMISSIVE
    case "number" => DecimalType(38, 9)
    case "double" | "float" | "real" => DoubleType
    case "decimal" | "numeric" => DecimalType(38, 9) // BigQuery NUMERIC
    case "date" => DateType
    case "timestamp" | "datetime" | "date & time" => TimestampType
    case "boolean" | "bool" | "checkbox" => BooleanType
    case _ => StringType
  }

  /** Build a schema from a dictionary relation with columns
    * (column_name, type). Order of dictionary rows = column order. */
  def schemaFromDictionary(dict: Seq[(String, String)]): StructType =
    StructType(dict.map { case (name, t) =>
      StructField(name, toSparkType(t), nullable = true)
    })

  /** Read a dictionary CSV (header `column_name,type[,...]`). */
  def readDictionary(spark: SparkSession, path: String): Seq[(String, String)] =
    spark.read.option("header", "true").csv(path)
      .select(col("column_name"), col("type"))
      .collect()  // dictionaries are tens of rows — driver-side is correct
      // dirty dictionary rows: a blank name cell is dropped (no column
      // to declare), a blank type cell falls back to string — Spark
      // reads empty CSV cells as null and a bare null would NPE later
      .flatMap { r =>
        Option(r.getString(0)).map(_.trim).filter(_.nonEmpty)
          .map(n => (n, Option(r.getString(1)).getOrElse("string")))
      }.toSeq

  /** Schema'd CSV read with quarantine: malformed rows keep their raw
    * text in `_corrupt_record` instead of silently nulling (PERMISSIVE),
    * so a 100 TB ingest can split good/bad rows in one pass. */
  def readWithDictionary(spark: SparkSession, dataPath: String,
                         dict: Seq[(String, String)]): DataFrame = {
    val schema = schemaFromDictionary(dict)
      .add(StructField("_corrupt_record", StringType, nullable = true))
    spark.read
      .option("header", "true")
      // validate the CSV header NAMES against the dictionary schema:
      // the default (enforceSchema=true) binds purely by position, so a
      // header/dictionary order mismatch silently swaps column values
      .option("enforceSchema", "false")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(schema)
      .csv(dataPath)
  }

  /** D10 "same columns, renamed" evolution: apply a {old -> new} rename
    * map; columns absent from the map pass through unchanged. */
  def applyRenames(df: DataFrame, renames: Map[String, String]): DataFrame =
    df.select(df.columns.map(c => col(c).as(renames.getOrElse(c, c))): _*)
}
