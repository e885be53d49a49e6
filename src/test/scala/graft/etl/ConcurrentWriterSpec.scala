package graft.etl

import java.nio.file.Files
import graft.TestSpark
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Concurrent-writer semantics of `Txn.commit`: a CAS-retry MERGE over
  * the committed catalog. Disjoint-table commits both survive in any
  * interleaving; a commit whose guarded keys moved since `begin()`
  * fails loudly (first-committer-wins OCC) instead of silently
  * clobbering the other writer — and a table guards its deletion-vector
  * entry (and vice versa), because an overwrite committed over a
  * concurrent vectored delete would resurrect the deleted rows while
  * touching a different catalog KEY.
  */
class ConcurrentWriterSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(StructField("id", LongType),
    StructField("v", StringType)))

  private def freshWh() = new Warehouse(spark,
    Files.createTempDirectory("whconc").toString,
    Map("a" -> schema, "b" -> schema),
    partitionSpec = Map.empty, bucketSpec = Map.empty)

  test("interleaved commits to DISJOINT tables both survive") {
    val wh = freshWh()
    val ta = wh.begin()
    val tb = wh.begin()                       // begun BEFORE ta commits
    ta.append("a", Seq((1L, "a1")).toDF("id", "v"))
    tb.append("b", Seq((2L, "b1")).toDF("id", "v"))
    ta.commit()
    tb.commit()                               // last writer must MERGE, not reset
    assert(wh.read("a").count() == 1, "earlier disjoint commit must survive")
    assert(wh.read("b").count() == 1)
  }

  test("eight threads write eight distinct tables of ONE txn; commit keeps every dir") {
    // half bucketed (concurrent bucketed writes and reads), half flat;
    // even tables are overwritten, odd ones appended to
    val names = (0 until 8).map(i => s"t$i")
    val wh = new Warehouse(spark, Files.createTempDirectory("whconc8").toString,
      names.map(_ -> schema).toMap, partitionSpec = Map.empty,
      bucketSpec = names.take(4).map(_ -> ("id", 4)).toMap)
    val t0 = wh.begin()
    names.foreach(t => t0.overwrite(t, Seq((0L, t)).toDF("id", "v")))
    t0.commit()
    val old = wh.catalog()
    val txn = wh.begin()
    val start = new java.util.concurrent.CyclicBarrier(names.size)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(names.size)
    try {
      val futures = names.zipWithIndex.map { case (t, i) =>
        pool.submit[Unit] { () =>
          val rows = (1L to 20L).map(id => (id, s"$t-$id")).toDF("id", "v")
          start.await()
          if (i % 2 == 0) txn.overwrite(t, txn.read(t).unionByName(rows))
          else txn.append(t, rows)
        }
      }
      futures.foreach(_.get())
    } finally pool.shutdown()
    txn.commit()
    val cat = wh.catalog()
    names.zipWithIndex.foreach { case (t, i) =>
      if (i % 2 == 0) assert(cat(t).length == 1 && cat(t) != old(t), s"$t: ${cat(t)}")
      else assert(cat(t).length == 2 && cat(t).head == old(t).head, s"$t: ${cat(t)}")
      cat(t).foreach(d => assert(Files.isDirectory(java.nio.file.Paths.get(d)), d))
      assert(wh.read(t).count() == 21, t)
    }
  }

  test("same-table conflict fails loudly; first committer wins") {
    val wh = freshWh()
    val t0 = wh.begin()
    t0.overwrite("a", Seq((1L, "base")).toDF("id", "v"))
    t0.commit()
    val t1 = wh.begin()
    val t2 = wh.begin()
    t1.overwrite("a", Seq((1L, "t1")).toDF("id", "v"))
    t2.overwrite("a", Seq((1L, "t2")).toDF("id", "v"))
    t1.commit()
    val e = intercept[java.util.ConcurrentModificationException](t2.commit())
    assert(e.getMessage.contains("a"))
    assert(wh.read("a").select("v").head().getString(0) == "t1",
      "first committer's image must stand")
  }

  test("overwrite over a concurrent vectored delete conflicts (no silent resurrection)") {
    val wh = freshWh()
    val t0 = wh.begin()
    t0.overwrite("a", (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v"))
    t0.commit()
    // writer A snapshots, then a vectored delete commits
    val writer = wh.begin()
    val upd = writer.read("a").withColumn("v", concat(col("v"), lit("!")))
    val deleter = wh.begin()
    assert(deleter.deleteVectored("a", col("id") === 3L) == 1L)
    deleter.commit()
    // writer A's overwrite derives from its DV-free snapshot — were it
    // to commit, id=3 would resurrect though the catalog KEYS touched
    // ('a' vs '_dv_a') are different. The guard-set conflict stops it.
    writer.overwrite("a", upd)
    intercept[java.util.ConcurrentModificationException](writer.commit())
    assert(wh.read("a").count() == 9, "the delete must stand")
    // retry from a fresh snapshot sees the delete and commits cleanly
    val retry = wh.begin()
    retry.overwrite("a", retry.read("a").withColumn("v", concat(col("v"), lit("!"))))
    retry.commit()
    val got = wh.read("a").select("id").collect().map(_.getLong(0)).toSet
    assert(got == ((1L to 10L).toSet - 3L))
  }

  test("vectored delete over a concurrent overwrite conflicts too") {
    val wh = freshWh()
    val t0 = wh.begin()
    t0.overwrite("a", (1L to 5L).map(i => (i, s"v$i")).toDF("id", "v"))
    t0.commit()
    val deleter = wh.begin()
    assert(deleter.deleteVectored("a", col("id") === 2L) == 1L)
    val writer = wh.begin()
    writer.overwrite("a", (1L to 5L).map(i => (i, s"w$i")).toDF("id", "v"))
    writer.commit()
    // deleter's tombstones name files the overwrite just retired —
    // committing them would delete NOTHING while claiming success
    intercept[java.util.ConcurrentModificationException](deleter.commit())
    assert(wh.read("a").count() == 5, "overwrite image intact, no phantom delete")
  }

  test("simultaneous same-expected CAS: exactly one writer wins, even with a widened window") {
    // The lost-commit race MaintenanceChaosSpec caught as a flake,
    // made deterministic: two threads race commitCatalogIf from the
    // SAME expected catalog while the casBarrier seam widens the
    // compare→swap window to ~100 ms. Pre-fix (no per-root monitor)
    // both threads pass the compare and both write — the first
    // committer's entry is silently clobbered; with the monitor the
    // second compare sees the first swap and returns false.
    val dir = Files.createTempDirectory("whcas").toString
    class SlowCasWh extends Warehouse(spark, dir,
        Map("a" -> schema, "b" -> schema),
        partitionSpec = Map.empty, bucketSpec = Map.empty) {
      override protected def casBarrier(): Unit = Thread.sleep(100)
    }
    val wh = new SlowCasWh
    val expected = wh.readCatalogRaw()
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = Seq("a" -> "dirA", "b" -> "dirB").map { case (tbl, d) =>
      new Thread(() => {
        if (wh.commitCatalogIf(expected, Map(tbl -> Seq(d)))) wins.incrementAndGet()
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(30000))
    assert(wins.get() == 1,
      s"exactly one same-expected CAS may win, got ${wins.get()}")
    assert(wh.catalog().size == 1, "the loser's entries must not be visible")
  }
}
