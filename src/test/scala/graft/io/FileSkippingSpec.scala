package graft.io

import java.nio.file.Files
import java.sql.Date

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThanOrEqual,
  IsNotNull, IsNull, LessThanOrEqual}

import graft.SparkSpec
import graft.io.FileSkippingSpec.SkipRow
import graft.io.v2.LakeFilePartition

object FileSkippingSpec {
  case class SkipRow(k: Long, c_name: String, tag: String,
      note: java.lang.Long, p: String, odate: Date)
}

/** File skipping has one evaluator ([[Snapshot.pruneFiles]]): the
  * Lake's read API, DML candidate selection and the V2 connector scan
  * all prune through it. Over a lake that records every manifest tier
  * — long zone, string zone, Bloom, partition values (null partition
  * included), null counts and a generated `year(...)` partition — each
  * filter set must pick the same files on all three paths, those files
  * must be exactly the ones the tier's rule keeps, and the pruned read
  * must return exactly the rows a full read filters to. */
class FileSkippingSpec extends SparkSpec {
  import spark.implicits._

  private val Fmt = "graft.io.v2.SnapshotStreamSource"
  private val Emoji = new String(Character.toChars(0x1F600)) // 4-byte UTF-8
  private val Bmp = "\uE000" // 3-byte UTF-8, above the surrogate range

  /** Seven files over five appends (one task per append, one file per
    * (p, yr) pair): A0 (a, 1992); A1 (b, 1993), note all null; A2
    * (null, 1994) and (a, 1994), note partly null; A3 (b=c, 1995) and
    * (b=c, 1996); A4 (e, 1997), whose two names straddle the UTF-16 /
    * UTF-8 order disagreement. A file's append is `lo(k) / 100`. */
  private def tieredLake(): Snapshot.Lake = {
    val lake = Snapshot.Lake(spark,
      Files.createTempDirectory("skip-spec-").toString,
      statsCols = Seq("k"), bloomCols = Seq("tag"),
      partitionCols = Seq("p", "yr"), strStatsCols = Seq("c_name"),
      nullStatsCols = Seq("note"),
      generatedCols = Seq("yr" -> "year(odate)"))
    def day(iso: String, plus: Int) =
      Date.valueOf(java.time.LocalDate.parse(iso).plusDays(plus.toLong))
    def rows(i: Int, n: Int)(p: Int => String, note: Int => Boolean,
        date: Int => Date, name: Int => String = null) =
      (0 until n).map { j =>
        val k = i * 100L + j
        SkipRow(k, Option(name).map(_(j)).getOrElse(f"Customer#$k%09d"),
          s"t$i-$j", if (note(j)) java.lang.Long.valueOf(k) else null,
          p(j), date(j))
      }
    Seq(
      rows(0, 40)(_ => "a", _ => true, day("1992-01-01", _)),
      rows(1, 40)(_ => "b", _ => false, day("1993-01-01", _)),
      rows(2, 40)(j => if (j % 2 == 0) null else "a", _ % 3 != 0,
        day("1994-03-01", _)),
      rows(3, 40)(_ => "b=c", _ => true, day("1995-12-12", _)),
      rows(4, 2)(_ => "e", _ => true, _ => Date.valueOf("1997-01-01"),
        Seq(Bmp, Emoji)))
      .foreach(rs => lake.append(rs.toDF().coalesce(1)))
    lake
  }

  private def app(f: Snapshot.FileStat): Long = f.lo("k") / 100

  private def abs(lake: Snapshot.Lake, rel: String) =
    new Path(lake.root, rel).toString

  private def cond(filters: Seq[Filter]) =
    filters.map(f => Snapshot.filterToColumn(f).get).reduce(_ && _)

  /** The files the connector scan planned for `df`. */
  private def planned(df: DataFrame): Set[String] =
    df.queryExecution.sparkPlan.collect { case b: BatchScanExec => b }
      .flatMap(_.inputPartitions)
      .map(_.asInstanceOf[LakeFilePartition].file).toSet

  /** DML's candidate set: a DELETE of every row in the files the
    * filters admit changes exactly those files' deletion vectors; the
    * restore puts the table back for the next probe. */
  private def dmlCandidates(lake: Snapshot.Lake,
      filters: Seq[Filter]): Set[String] = {
    def dvs(v: Int) = lake.liveState(v).map(e => e._1.path -> e._2)
    val v = lake.latestVersion
    val after = dvs(lake.deleteWhere(lit(true), filters)).toSet
    lake.restore(v)
    dvs(v).filterNot(after).map(e => abs(lake, e._1)).toSet
  }

  test("one evaluator: Lake.pruneFiles, the connector scan and DML candidates pick the same files on every tier") {
    val lake = tieredLake()
    val v0 = lake.latestVersion
    val files = lake.liveFiles(v0)
    assert(files.size === 7, files.map(_.parts).mkString("; "))
    val cases: Seq[(String, Seq[Filter], Snapshot.FileStat => Boolean)] =
      Seq(
        ("long zone range", Seq(GreaterThanOrEqual("k", 110L),
          LessThanOrEqual("k", 120L)), app(_) == 1),
        ("long zone point", Seq(EqualTo("k", 205L)), app(_) == 2),
        ("Bloom point", Seq(EqualTo("tag", "t3-5")),
          f => app(f) == 3 && f.parts("yr") == "1995"),
        ("string zone range",
          Seq(GreaterThanOrEqual("c_name", "Customer#000000100"),
            LessThanOrEqual("c_name", "Customer#000000139")), app(_) == 1),
        ("string zone, supplementary-plane key",
          Seq(EqualTo("c_name", Emoji)), app(_) == 4),
        ("partition value", Seq(EqualTo("p", "a")),
          f => f.parts("p") == "a"),
        ("escaped partition value", Seq(EqualTo("p", "b=c")),
          app(_) == 3),
        ("null partition", Seq(IsNull("p")),
          f => f.parts("p") == Snapshot.NullPartitionName),
        ("not the null partition", Seq(IsNotNull("p")),
          f => f.parts("p") != Snapshot.NullPartitionName),
        ("null count: IS NULL", Seq(IsNull("note")),
          f => app(f) == 1 || app(f) == 2),
        ("null count: IS NOT NULL", Seq(IsNotNull("note")),
          app(_) != 1),
        ("generated year, one partition",
          Seq(GreaterThanOrEqual("odate", Date.valueOf("1994-03-05")),
            LessThanOrEqual("odate", Date.valueOf("1994-03-20"))),
          app(_) == 2),
        ("generated year across a boundary",
          Seq(GreaterThanOrEqual("odate", Date.valueOf("1996-01-02")),
            LessThanOrEqual("odate", Date.valueOf("1996-01-05"))),
          f => f.parts("yr") == "1996"),
        ("partition and null count together",
          Seq(EqualTo("p", "a"), IsNull("note")),
          f => app(f) == 2 && f.parts("p") == "a"))
    cases.foreach { case (what, filters, keeps) =>
      val expected = files.filter(keeps).map(f => abs(lake, f.path)).toSet
      assert(expected.nonEmpty && expected.size < files.size, what)
      val viaLake = lake.pruneFiles(v0, filters)
        .map(f => abs(lake, f.path)).toSet
      assert(viaLake === expected, s"$what: Lake.pruneFiles")
      val scan = spark.read.format(Fmt).option("versionAsOf", v0.toLong)
        .load(lake.root).filter(cond(filters))
      assert(planned(scan) === expected, s"$what: connector scan")
      assert(dmlCandidates(lake, filters) === expected, s"$what: DML")
      // The pruned read is row-exact against a full read's filter.
      val want = lake.readAsOf(v0).filter(cond(filters))
        .select("k").as[Long].collect().sorted.toSeq
      assert(want.nonEmpty, what)
      assert(lake.readWhere(v0, filters).select("k").as[Long]
        .collect().sorted.toSeq === want, s"$what: readWhere rows")
      assert(scan.select("k").as[Long].collect().sorted.toSeq === want,
        s"$what: connector rows")
    }
    // Every file pruned: an empty frame with the table's schema.
    val none = lake.readWhere(v0, Seq(EqualTo("k", 99L)))
    assert(none.count() === 0)
    assert(none.columns.toSet === lake.read().columns.toSet)
  }

  test("SQL WHERE through the connector prunes on null counts and string zones") {
    val lake = tieredLake()
    val view = s"skip${System.nanoTime()}"
    spark.read.format(Fmt).load(lake.root).createOrReplaceTempView(view)
    val files = lake.liveFiles(lake.latestVersion)
    def filesOf(keep: Snapshot.FileStat => Boolean) =
      files.filter(keep).map(f => abs(lake, f.path)).toSet
    assert(planned(spark.sql(s"SELECT k FROM $view")).size === files.size)

    val isNull = spark.sql(s"SELECT k FROM $view WHERE note IS NULL")
    assert(planned(isNull) === filesOf(f => app(f) == 1 || app(f) == 2))
    assert(isNull.count() ===
      lake.read().filter(col("note").isNull).count())

    val named = spark.sql(s"SELECT k FROM $view WHERE c_name BETWEEN " +
      "'Customer#000000100' AND 'Customer#000000139'")
    assert(planned(named) === filesOf(app(_) == 1))
    assert(named.select("k").as[Long].collect().sorted.toSeq ===
      (100L until 140L))
  }
}
