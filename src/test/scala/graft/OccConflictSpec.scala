package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.sources.VersionedTable

/** The OCC conflict rules of every `VersionedTable` op with a race
  * window, table-driven: a one-shot racing commit (an append, or a
  * merge-on-read `deleteByKeys`) lands between the op's staging and its
  * commit, and each case pins whether the op REBASES over it (one pass
  * through the window) or RETRIES from the new snapshot (two), plus the
  * final rows. Every case also leaves no data, delete or CDC file that
  * no retained manifest references. `deleteWhereMergeOnRead` has no
  * [[VersionedTable.commitRaceHook]] point; its race lands when its
  * position file is renamed into the table ([[FaultyLocalFs]]).
  */
class OccConflictSpec extends SparkTestBase {
  import spark.implicits._

  private type Rows = Seq[(Long, String)]

  private def tmp(): String =
    Files.createTempDirectory("occ").toString + "/t"

  private def rows(t: String): Rows =
    VersionedTable.read(spark, t).orderBy("k")
      .as[(Long, String)].collect().toSeq

  private val base: Rows = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))

  private def seeded(): String = {
    val t = tmp()
    VersionedTable.append(spark, base.toDF("k", "v").coalesce(1), t)
    t
  }

  private def appendOf(rs: Rows): String => Unit = t =>
    VersionedTable.append(spark, rs.toDF("k", "v").coalesce(1), t)

  private def deleteOf(k: Long): String => Unit = t =>
    VersionedTable.deleteByKeys(spark, t, Seq(k).toDF("k"))

  /** Parquet files in the table dir that no retained manifest names. */
  private def orphans(t: String): Set[String] = {
    val dir = new java.io.File(t)
    val referenced = new java.io.File(dir, "_commits").listFiles()
      .filter(_.getName.startsWith("v"))
      .flatMap(m => new String(Files.readAllBytes(m.toPath), "UTF-8")
        .split("\n").filter(_.nonEmpty))
      .flatMap { l =>
        if (!l.startsWith("#")) Seq(l)
        else if (l.startsWith("#del ")) Seq(l.split(" ")(1))
        else if (l.startsWith("#delpos ") || l.startsWith("#cdc "))
          Seq(l.split(" ", 2)(1))
        else Nil
      }.toSet
    dir.listFiles().map(_.getName).filter(_.endsWith(".parquet"))
      .toSet -- referenced
  }

  /** Run `op` on `t` with `race` injected once into its OCC window;
    * returns how many times the op passed through the window.
    */
  private def raced(t: String, race: String => Unit)(op: String => Long)
      : Int = {
    var passes = 0
    VersionedTable.commitRaceHook = () => {
      passes += 1
      if (passes == 1) race(t)
    }
    try op(t) finally VersionedTable.commitRaceHook = () => ()
    passes
  }

  private case class Case(op: String, race: String, setup: () => String,
      racer: String => Unit, run: String => Long, passes: Int, want: Rows)

  private val Rebase = 1
  private val Retry = 2

  private val upsertRows: Rows = Seq((2L, "B"), (3L, "C"))
  private def upsert(t: String): Long =
    VersionedTable.upsert(spark, upsertRows.toDF("k", "v"), t, "k")
  private def update(t: String): Long =
    VersionedTable.update(spark, t, col("k") >= 3L, Map("v" -> lit("U")))
  private def replaceWhere(t: String): Long =
    VersionedTable.replaceWhere(spark, Seq((5L, "n")).toDF("k", "v"), t,
      col("k") >= 3L)
  private def delete(t: String): Long =
    VersionedTable.delete(spark, t, col("k") >= 3L)
  private def compact(t: String): Long =
    VersionedTable.compact(spark, t, numFiles = 1)
  private def withV2(): String = {
    val t = seeded()
    appendOf(Seq((5L, "e")))(t)
    t
  }
  private def restore(t: String): Long = VersionedTable.restore(spark, t, 1L)

  private val far: Rows = Seq((9L, "z"))

  private val cases = Seq(
    Case("compact", "append", seeded, appendOf(far), compact, Rebase,
      base ++ far),
    Case("compact", "deleteByKeys", seeded, deleteOf(2L), compact, Retry,
      base.filterNot(_._1 == 2L)),
    Case("upsert", "append (disjoint keys)", seeded, appendOf(far), upsert,
      Rebase, Seq((1L, "a"), (2L, "B"), (3L, "C"), (4L, "d"), (9L, "z"))),
    Case("upsert", "append (intersecting keys)", seeded,
      appendOf(Seq((3L, "x"))), upsert, Retry,
      Seq((1L, "a"), (2L, "B"), (3L, "C"), (4L, "d"))),
    Case("upsert", "deleteByKeys", seeded, deleteOf(1L), upsert, Retry,
      Seq((2L, "B"), (3L, "C"), (4L, "d"))),
    Case("update", "append", seeded, appendOf(far), update, Retry,
      Seq((1L, "a"), (2L, "b"), (3L, "U"), (4L, "U"), (9L, "U"))),
    Case("update", "deleteByKeys", seeded, deleteOf(3L), update, Retry,
      Seq((1L, "a"), (2L, "b"), (4L, "U"))),
    Case("replaceWhere", "append", seeded, appendOf(far), replaceWhere,
      Retry, Seq((1L, "a"), (2L, "b"), (5L, "n"))),
    Case("replaceWhere", "deleteByKeys", seeded, deleteOf(1L),
      replaceWhere, Retry, Seq((2L, "b"), (5L, "n"))),
    Case("delete", "append", seeded, appendOf(far), delete, Retry,
      Seq((1L, "a"), (2L, "b"))),
    Case("delete", "deleteByKeys", seeded, deleteOf(1L), delete, Retry,
      Seq((2L, "b"))),
    Case("restore", "append", withV2, appendOf(far), restore, Retry, base),
    Case("restore", "deleteByKeys", withV2, deleteOf(1L), restore, Retry,
      base))

  cases.foreach { c =>
    test(s"${c.op} raced by ${c.race}: " +
        (if (c.passes == Rebase) "rebases" else "retries")) {
      val t = c.setup()
      assert(raced(t, c.racer)(c.run) === c.passes)
      assert(rows(t) === c.want)
      assert(orphans(t) === Set.empty)
    }
  }

  Seq("append" -> appendOf(far), "deleteByKeys" -> deleteOf(1L))
    .foreach { case (race, racer) =>
      test(s"deleteWhereMergeOnRead raced by $race: rescans") {
        val t = seeded()
        var fired = false
        FaultyLocalFs.installed(spark) {
          FaultyLocalFs.onRenameInto = Some("delpos-" -> (() =>
            if (!fired) { fired = true; racer(t) }))
          VersionedTable.deleteWhereMergeOnRead(spark, t, col("k") >= 3L)
        }
        assert(fired)
        // the raced append's row matches the predicate: only a rescan of
        // the new snapshot deletes it
        assert(rows(t) === (if (race == "append") Seq((1L, "a"), (2L, "b"))
          else Seq((2L, "b"))))
        assert(orphans(t) === Set.empty)
      }
    }

  /** Race every pass through the window with an overwrite (it replaces
    * every input file, a conflict for any rewrite); the op must give up
    * loudly and leave nothing it staged behind, CDC files included.
    */
  private def exhausted(op: String)(run: String => Long): Unit = {
    val t = seeded()
    VersionedTable.alterProperties(spark, t,
      Map(VersionedTable.CdcProperty -> "true"))
    var passes = 0
    VersionedTable.commitRaceHook = () => {
      passes += 1
      VersionedTable.overwrite(spark, base.toDF("k", "v").coalesce(1), t)
    }
    val e =
      try intercept[IllegalStateException](run(t))
      finally VersionedTable.commitRaceHook = () => ()
    assert(e.getMessage.startsWith(s"$op lost 20 commit races"),
      e.getMessage)
    assert(passes === 20)
    assert(rows(t) === base)
    assert(orphans(t) === Set.empty)
  }

  test("upsert raced on every attempt gives up and cleans up") {
    exhausted("upsert")(upsert)
  }

  test("compact raced on every attempt gives up and cleans up") {
    exhausted("compact")(compact)
  }

  test("the orphan probe reports an unreferenced data file") {
    val t = seeded()
    val stray = new Path(t, "part-stray.parquet").toString
    spark.range(1).write.parquet(stray + ".d")
    new java.io.File(stray + ".d").listFiles()
      .find(_.getName.endsWith(".parquet")).get
      .renameTo(new java.io.File(stray))
    assert(orphans(t) === Set("part-stray.parquet"))
  }
}
