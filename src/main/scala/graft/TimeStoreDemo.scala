package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.core.Point
import graft.sources.{MutableKV, PointCodec, TimeStore}

/** End-to-end drive of the store API through its public surface: register →
  * ingest (wire blob + events-derived points) → scan → latest → mutable KV.
  * Run: sbt 'runMain graft.TimeStoreDemo'. Prints one OK line per step. */
object TimeStoreDemo {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(4)
    val root = Files.createTempDirectory("graft-demo").toString
    val n = TimeStore.namespace(root, "PONIES")

    TimeStore.register(spark, n, 10, 20)
    println(s"OK register: indexes=${TimeStore.fetchIndex(spark, n, "simple").get.entries}")

    val blob = PointCodec.encode(Seq(
      Point(0, 0, 0), Point(2, 2, 0), Point(4, 4, 0), Point(8, 8, 0),
      Point(1, 1, 3, "hai".getBytes), Point(1, 2, 5, "there".getBytes)))
    TimeStore.writeEncoded(spark, n, blob)
    println(s"OK writeEncoded: latest=${TimeStore.fetchLatest(spark, n)}")

    val scan = TimeStore.readSimple(spark, n, 0, 21, Seq(2L, 4L, 8L)).collect()
    println(s"OK readSimple: ${scan.map(r => (r.getLong(0), r.getLong(1))).mkString(",")}")

    val ext = TimeStore.readExtended(spark, n, 0, -1L, Seq(1L)).collect()
    println(s"OK readExtended: ${ext.map(r => new String(r.getAs[Array[Byte]]("value"))).mkString(",")}")

    // bulk path: load sf0.001 events as points (user_id->address<<1, ts->time)
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    import spark.implicits._
    val pts = Tables.events(spark, sfDir)
      .select((col("user_id") * 2).as("address"), col("ts").as("time"),
        col("value").cast("long").as("payload"))
      .as[(Long, Long, Long)].map { case (a, t, p) => Point(a, t, p) }
    val big = TimeStore.namespace(root, "EVENTS")
    TimeStore.register(spark, big, 8, 8)
    TimeStore.writePoints(spark, big, pts)
    val cnt = TimeStore.readSimple(spark, big, 0, -1L,
      (0L until 30L by 2L).toSeq).count()
    println(s"OK writePoints/readSimple on events: $cnt rows")

    MutableKV.insert(spark, n, 42L, "v1".getBytes)
    MutableKV.insert(spark, n, 42L, "v2".getBytes)
    println(s"OK mutable: ${MutableKV.lookup(spark, n, 42L).map(new String(_))}")

    println("DEMO PASS")
    spark.stop()
  }
}
