package graft

import java.nio.file.{Files, StandardCopyOption}
import org.apache.spark.graft.Jobs
import org.apache.spark.sql.functions._
import graft.tables.Tables

/** Each corpus table is resolved once per (session, path) at its file stamp:
  * the first load pays the footer/schema job, later loads and view
  * registrations run none, two loads still self-join as independent
  * reads, and a table replaced in place is re-resolved. */
class TablesSpec extends SparkSpec {

  test("a second load of the same table runs no job") {
    val s = spark.newSession()
    val (_, first) = Jobs.count(spark.sparkContext)(Tables.lineitem(s, sf))
    val (df, second) = Jobs.count(spark.sparkContext)(Tables.lineitem(s, sf))
    assert(first >= 1, "the first load resolves the table")
    assert(second === 0)
    assert(df.count() === spark.read.parquet(s"$sf/lineitem.parquet").count())
  }

  test("two loads of one table self-join with distinct attribute ids") {
    val a = Tables.nation(spark, sf)
    val b = Tables.nation(spark, sf)
    val ids = (a.queryExecution.analyzed.output ++
      b.queryExecution.analyzed.output).map(_.exprId)
    assert(ids.distinct.size === ids.size)
    def pairs(l: org.apache.spark.sql.DataFrame,
        r: org.apache.spark.sql.DataFrame) =
      l.join(r, l("n_regionkey") === r("n_regionkey") &&
          l("n_nationkey") < r("n_nationkey"))
        .select(l("n_name"), r("n_name")).collect()
        .map(x => (x.getString(0), x.getString(1))).toSet
    val path = s"$sf/nation.parquet"
    val expected = pairs(spark.read.parquet(path), spark.read.parquet(path))
    assert(expected.nonEmpty)
    assert(pairs(a, b) === expected)
  }

  test("a table replaced in place is seen by the next load") {
    val dir = Files.createTempDirectory("graft_tables_")
    val target = dir.resolve("nation.parquet")
    Files.copy(java.nio.file.Paths.get(s"$sf/nation.parquet"), target,
      StandardCopyOption.COPY_ATTRIBUTES)
    val d = dir.toString
    val before = Tables.nation(spark, d).count()
    val tmp = dir.resolve("__nation").toString
    Tables.nation(spark, d).filter(col("n_regionkey") === 0)
      .coalesce(1).write.parquet(tmp)
    val kept = spark.read.parquet(tmp).count()
    assert(kept > 0 && kept < before)
    Files.delete(target)
    Files.move(java.nio.file.Paths.get(tmp), target)
    assert(Tables.nation(spark, d).count() === kept)
  }

  /** The 100 TB layout: a table is a directory of part files. Rewriting
    * it through its root (a new directory moved over the old one) is
    * seen by the next load. Edits below the root that leave the root's
    * stamp unchanged (a part file rewritten in place, a file added to a
    * partition subdirectory) are not seen within a session. */
  test("a directory table rewritten through its root is seen by the next load") {
    val dir = Files.createTempDirectory("graft_tables_dir_")
    val target = dir.resolve("nation.parquet")
    val d = dir.toString
    val nation = spark.read.parquet(s"$sf/nation.parquet")
    def region(r: Int) = nation.filter(col("n_regionkey") === r)
    region(0).repartition(2).write.parquet(target.toString)
    assert(Tables.nation(spark, d).count() === region(0).count())
    val tmp = dir.resolve("__nation").toString
    region(1).repartition(2).write.parquet(tmp)
    val fs = new org.apache.hadoop.fs.Path(d)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(target.toString), true)
    Files.move(java.nio.file.Paths.get(tmp), target)
    val after = Tables.nation(spark, d)
    assert(after.count() === region(1).count())
    assert(after.filter(col("n_regionkey") =!= 1).count() === 0)
  }

  test("a second registerAll runs no job") {
    val s = spark.newSession()
    Tables.registerAll(s, sf)
    val (_, jobs) = Jobs.count(spark.sparkContext)(Tables.registerAll(s, sf))
    assert(jobs === 0)
    assert(s.sql("SELECT count(*) FROM orders").collect()(0).getLong(0) ===
      Tables.orders(s, sf).count())
  }
}
