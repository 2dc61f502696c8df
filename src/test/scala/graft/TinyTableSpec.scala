package graft

import java.nio.file.Files

import org.apache.spark.sql.Encoders
import org.scalatest.funsuite.AnyFunSuite

import graft.model.TinyTable
import graft.ops.{NotifierStore, Parliament}
import graft.query.{Shortcuts, ViewsStore}

/** The config-store swap protocol's crash window and forward schema
  * evolution: a crash between the two renames must not lose the table,
  * under any store that keeps one, and adding a case-class field must
  * not brick stores written before the field existed.
  */
// top-level: Spark encoders cannot instantiate suite-inner case classes
case class TinyRowV1(id: Long, name: String)
case class TinyRowV2(id: Long, name: String, flag: Boolean,
    note: String, n: Long, m: Map[String, String], xs: Seq[Long])

class TinyTableSpec extends AnyFunSuite with SparkSpecBase {

  private def tmp(): String =
    Files.createTempDirectory("graft-tinytable").resolve("t").toString

  /** A config store as the crash case drives it: the table path under
    * `dir`, a create of row `i`, and the stored rows' keys.
    */
  private case class Store(name: String, table: String => String,
      create: (String, Int) => Unit, keys: String => Set[String])

  private lazy val stores: Seq[Store] = {
    import spark.implicits._
    val noStats = Seq.empty[(String, String, Long, Long, Long)].toDF(
      "cluster", "nodeName", "currentTime", "deltaPacketsPerSec",
      "deltaESDroppedPerSec")
    Seq(
      Store("shortcuts", identity,
        (p, i) => Shortcuts.create(spark, p, "u", s"s$i", "string", "a,b"),
        p => Shortcuts.readAll(spark, p).map(_.name).toSet),
      Store("views", identity,
        (p, i) => ViewsStore.create(spark, p, "u", s"v$i", "port == 80"),
        p => ViewsStore.readAll(spark, p).map(_.name).toSet),
      Store("notifiers", identity,
        (p, i) => NotifierStore.create(spark, p, "admin", actorIsAdmin = true,
          s"n$i", "slack", Map("slackWebhookUrl" -> "http://localhost/x"),
          nowSec = 1L),
        p => NotifierStore.readAll(spark, p).map(_.name).toSet),
      // a new cluster's red health is one new (provisional) issue per
      // cycle; cycles 1 s apart keep the earlier ones
      Store("parliament issues", dir => s"$dir/issues",
        (dir, i) => Parliament.processCycle(spark, dir,
          Seq(Parliament.ClusterHealth(s"c$i", "red")), noStats,
          nowMs = 1000000000000L + i * 1000L),
        dir => Parliament.readIssues(spark, dir).map(_.cluster).toSet))
  }

  test("crash between swap renames recovers from the _old aside on read and write") {
    val path = tmp()
    TinyTable.write(spark, path, Seq(TinyRowV1(1, "a"), TinyRowV1(2, "b")), "t")(
      Encoders.product[TinyRowV1])
    // simulate the crash: live table moved aside, new one never landed
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(path + "_old")))

    // read restores the aside instead of answering an empty table
    assert(TinyTable.read[TinyRowV1](spark, path)(Encoders.product[TinyRowV1])
      .toSet == Set(TinyRowV1(1, "a"), TinyRowV1(2, "b")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(path)))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path + "_old")))

    // same crash, but the next operation is a write: the recovered rows
    // survive as the rollback base and the write lands normally
    assert(fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(path + "_old")))
    TinyTable.write(spark, path, Seq(TinyRowV1(3, "c")), "t")(
      Encoders.product[TinyRowV1])
    assert(TinyTable.read[TinyRowV1](spark, path)(Encoders.product[TinyRowV1]) ==
      Seq(TinyRowV1(3, "c")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path + "_old")))

    // the same crash under each store: its reader answers the parked
    // rows, and its next create keeps them
    stores.foreach { s =>
      val dir = tmp()
      s.create(dir, 1)
      s.create(dir, 2)
      val before = s.keys(dir)
      assert(before.size == 2, s.name)
      val live = new org.apache.hadoop.fs.Path(s.table(dir))
      val aside = new org.apache.hadoop.fs.Path(live.toString + "_old")
      assert(fs.rename(live, aside))
      assert(s.keys(dir) == before, s"${s.name}: read during the crash window")
      assert(fs.rename(live, aside))
      s.create(dir, 3)
      assert(s.keys(dir).size == 3 && before.subsetOf(s.keys(dir)),
        s"${s.name}: create after the crash window")
    }
  }

  test("read fills fields the stored parquet predates with defaults") {
    val path = tmp()
    TinyTable.write(spark, path, Seq(TinyRowV1(1, "a")), "t")(
      Encoders.product[TinyRowV1])
    // the encoder grew flag/note/n/m/xs since the table was written
    val rows = TinyTable.read[TinyRowV2](spark, path,
      defaults = Map("n" -> org.apache.spark.sql.functions.lit(42L)))(
      Encoders.product[TinyRowV2])
    assert(rows == Seq(TinyRowV2(1, "a", flag = false, note = "", n = 42L,
      m = Map.empty, xs = Seq.empty)))
  }
}
