package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}

/** Prints what every graft-tx read face selects on five small table
  * shapes, so two builds' pruning and row filtering can be compared
  * line by line:
  *
  * {{{
  * sbt "Test/runMain graft.ReadFaces <scratchDir>" | grep '\[faces\]' > a
  * # the same on the other build, into another scratch dir, then
  * diff a b
  * }}}
  *
  * One line per (shape, face): the data files the face scans (read off
  * the plan's RDD lineage, so a relation's inner snapshot scan counts;
  * the partitioned face reports its input partitions), the format
  * face's `inputFiles` where it has one, the row count and an
  * order-free digest of the rows. The faces are the Scala `read`
  * ranges, the `colRange`/`strRange`/`keyRange` reader options, SQL
  * WHERE on a path-loaded view and on a catalog table, and the
  * storage-partitioned face (`partitionCol`). At `local[1]`, two runs
  * of one build print the same lines.
  */
object ReadFaces {
  import graft.sources.TxTable

  private def lineageFiles(df: DataFrame): Int = {
    def walk(r: org.apache.spark.rdd.RDD[_]): Seq[String] = r match {
      case f: org.apache.spark.sql.execution.datasources.FileScanRDD =>
        f.filePartitions.flatMap(_.files.map(_.filePath.toString))
      case _ => r.dependencies.flatMap(d => walk(d.rdd))
    }
    walk(df.queryExecution.toRdd).distinct.size
  }

  private def digest(df: DataFrame): (Long, String) = {
    val rows = df.collect().map(_.toSeq.mkString("|")).sorted
    (rows.length.toLong, Integer.toHexString(rows.mkString("\n").hashCode))
  }

  def main(args: Array[String]): Unit = {
    val scratch = args(0)
    val spark = SparkSession.builder()
      .master("local[1]")
      .config("spark.sql.shuffle.partitions", "1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def root(shape: String) = s"$scratch/$shape"
    def report(shape: String, face: String, df: DataFrame,
      files: DataFrame => Int = lineageFiles): Unit = {
      val (n, h) = digest(df)
      println(s"[faces] $shape $face files=${files(df)} rows=$n digest=$h")
    }
    def range(lo: Long, hi: Long) = spark.range(lo, hi).select(
      col("id").as("k"), (col("id") * 2).as("v"),
      expr("concat('s', lpad(cast(id as string), 4, '0'))").as("s"))

    // one shape: the Scala read, its reader options (with inputFiles),
    // and the same bounds as SQL WHERE on a view and a catalog table
    def faces(shape: String, label: String, keyRange: Option[(Long, Long)],
      cols: Map[String, (Long, Long)], strs: Map[String, (String, String)],
      where: String): Unit = {
      val r = root(shape)
      report(label, "read", TxTable.read(spark, r, keyRange = keyRange,
        colRanges = cols, strRanges = strs))
      val reader = spark.read.format("graft-tx")
      val opts = (keyRange.map { case (lo, hi) => "keyRange" -> s"$lo,$hi" } ++
        cols.map { case (c, (lo, hi)) => s"colRange.$c" -> s"$lo,$hi" } ++
        strs.map { case (c, (lo, hi)) => s"strRange.$c" -> s"$lo,$hi" })
        .foldLeft(reader) { case (rd, (k, v)) => rd.option(k, v) }.load(r)
      report(label, "options", opts)
      report(label, "options.inputFiles", opts, _.inputFiles.length)
      spark.read.format("graft-tx").load(r)
        .createOrReplaceTempView(s"${label}_view")
      report(label, "path-where",
        spark.sql(s"SELECT * FROM ${label}_view WHERE $where"))
      spark.sql(s"CREATE TABLE ${label}_cat USING `graft-tx` " +
        s"OPTIONS (path '$r')")
      report(label, "catalog-where",
        spark.sql(s"SELECT * FROM ${label}_cat WHERE $where"))
    }

    (0 until 4).foreach(i => TxTable.append(range(i * 100L, i * 100L + 100),
      root("plain"), statsCols = Seq("k", "s")))
    faces("plain", "plain", None, Map("k" -> (150L, 260L)),
      Map("s" -> ("s0100", "s0255")),
      "k BETWEEN 150 AND 260 AND s BETWEEN 's0100' AND 's0255'")
    faces("plain", "plainkey", Some((150L, 160L)), Map.empty, Map.empty,
      "k BETWEEN 150 AND 160")

    val changes = spark.range(1, 101).select(col("id").as("k"))
    TxTable.mergeDelta(spark, root("mor"), changes.select(col("k"),
      expr("'I'").as("op"), (col("k") * 10).as("v"), col("k").as("seq")))
    TxTable.mergeDelta(spark, root("mor"), changes.filter("k <= 50").select(
      col("k"), expr("CASE WHEN k % 5 = 0 THEN 'D' ELSE 'U' END").as("op"),
      (col("k") * 10 + 1000).as("v"), (col("k") + 100).as("seq")))
    faces("mor", "mor", None, Map("v" -> (400L, 1200L)), Map.empty,
      "v BETWEEN 400 AND 1200")
    faces("mor", "morkey", Some((10L, 30L)), Map.empty, Map.empty,
      "k BETWEEN 10 AND 30")

    (0 until 4).foreach(i => TxTable.append(range(i * 100L, i * 100L + 100),
      root("mapped"), statsCols = Seq("k")))
    TxTable.renameColumn(spark, root("mapped"), "k", "key")
    faces("mapped", "mapped", None, Map("key" -> (150L, 260L)), Map.empty,
      "key BETWEEN 150 AND 260")

    (0 until 2).foreach(i => TxTable.append(range(i * 10L, i * 10L + 10),
      root("declared"), statsCols = Seq("k")))
    TxTable.addColumn(spark, root("declared"), "x",
      org.apache.spark.sql.types.LongType)
    (2 until 4).foreach(i => TxTable.append(
      range(i * 10L, i * 10L + 10).withColumn("x", col("k") % 10 + (i - 2) * 100),
      root("declared"), statsCols = Seq("k", "x")))
    faces("declared", "declared", None, Map("x" -> (5L, 7L)), Map.empty,
      "x BETWEEN 5 AND 7")

    // DATE partition keys: the partitioned face and a DATE WHERE
    TxTable.appendPartitioned(spark.range(80).select(col("id").as("k"),
      expr("date_add(DATE'2026-01-01', CAST(id % 8 AS INT))").as("d")),
      root("dated"), "d")
    val dated = "d >= DATE'2026-01-04' AND d <= DATE'2026-01-05'"
    spark.read.format("graft-tx").load(root("dated"))
      .createOrReplaceTempView("dated_view")
    report("dated", "path-where",
      spark.sql(s"SELECT * FROM dated_view WHERE $dated"))
    report("dated", "spj-where", spark.read.format("graft-tx")
      .option("partitionCol", "d").load(root("dated")).where(dated),
      _.queryExecution.toRdd.getNumPartitions)
    System.out.flush()
    Runtime.getRuntime.halt(0)
  }
}
