package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent output digest: the row count and the exact sum of a
  * 64-bit hash over every column of each row. A sum, unlike an xor, still
  * sees a duplicated row. */
object Digest {
  def of(df: DataFrame): (Long, String) = {
    // positional names: results may carry duplicate or dotted column names
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map(f => hashable(col(f.name), f.dataType))
    val rowHash = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = named.agg(count(lit(1)), sum(rowHash.cast(DecimalType(38, 0)))).head()
    (r.getLong(0), Option(r.getDecimal(1)).fold("0")(_.toPlainString))
  }

  // Spark cannot hash maps; their JSON form keeps the entries in order
  private def hashable(c: Column, t: DataType): Column =
    if (hasMap(t)) to_json(c) else c

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }
}

/** Checks of [[Digest]] on a small frame; exit code 0 when all hold. */
object SelfTest {
  def run(): Int = {
    val spark = org.apache.spark.sql.SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "3")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val df = spark.range(500).select(col("id"), (col("id") / 7).as("x"),
      concat(lit("s"), col("id").cast("string")).as("s"),
      array(col("id"), col("id") % 5).as("a"),
      map(lit("k"), col("id") % 3).as("m"),
      when(col("id") % 11 === 0, lit(null)).otherwise(col("id")).as("n"))
    val base = Digest.of(df)
    val checks = Seq(
      "row_order" -> (Digest.of(df.orderBy(rand(7))) == base),
      "partitioning" -> (Digest.of(df.repartition(5)) == base),
      "duplicate_row_seen" -> (Digest.of(df.union(df.limit(1))) != base),
      "value_change_seen" ->
        (Digest.of(df.withColumn("x", when(col("id") === 3, lit(0.5)).otherwise(col("x")))) != base),
      "row_count" -> (base._1 == 500L))
    spark.stop()
    println(Main.toJson(checks.toMap))
    if (checks.forall(_._2)) 0 else 1
  }
}
