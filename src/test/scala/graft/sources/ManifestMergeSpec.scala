package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.sources.ManifestTable._

/** Three-clause MERGE contracts (round 18 — the Delta MERGE INTO
  * surface / CDC-apply shape): clause precedence (matched delete
  * before update), matched rows no clause fires on carry unchanged,
  * conditional insert, by-source delete scoped to UNMATCHED rows
  * only, upsert-grade file pruning (carry-by-reference outside the
  * touched tiers), loud duplicate/NULL source keys, constraint
  * enforcement over exactly the source-pushed rows, extra source
  * columns ignored, and DV materialization on rewrite.
  */
class ManifestMergeSpec extends SparkTestBase {
  import spark.implicits._

  private def tmpTable(): String =
    java.nio.file.Files.createTempDirectory("graft_mrg").resolve("t").toString

  private def mkTable(n: Int, buckets: Int,
                      constraints: Map[String, String] = Map.empty): String = {
    val t = tmpTable()
    val df = (0 until n).map(i => (i.toLong, s"row-$i", (i % 7).toLong))
      .toDF("doc_id", "text", "tag")
    create(spark, t, df, "doc_id", buckets, constraints = constraints)
    t
  }

  private def rows(t: String): Map[Long, (String, Long)] =
    snapshot(spark, t).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap

  test("update+insert with always-true conditions == upsert, bit for bit") {
    val tUp = mkTable(300, 3)
    val tMg = mkTable(300, 3)
    val delta = Seq((5L, "upd-5", 50L), (120L, "upd-120", 51L),
      (300L, "new-300", 52L), (301L, "new-301", 53L))
      .toDF("doc_id", "text", "tag")
    upsert(spark, tUp, delta, 2)
    merge(spark, tMg, delta, 2,
      matchedUpdate = Some(lit(true)), notMatchedInsert = Some(lit(true)))
    assert(rows(tMg) == rows(tUp))
    assert(readSnapshot(tMg, 1).op == "merge")
  }

  test("matched delete fires BEFORE update; unmatched clause rows carry unchanged") {
    val t = mkTable(100, 1)
    // key 10: marked both deletable and updatable -> delete wins.
    // key 20: update fires. key 30: matched, no clause fires -> unchanged.
    val src = Seq((10L, "x", 0L, "d", true), (20L, "upd-20", 9L, "u", true),
      (30L, "ignored", 9L, "u", false))
      .toDF("doc_id", "text", "tag", "_op", "_fire")
    merge(spark, t, src, 1,
      matchedDelete = Some(srcCol("_op") === "d"),
      matchedUpdate = Some(srcCol("_fire")))
    val m = rows(t)
    assert(!m.contains(10L), "delete clause must win over update")
    assert(m(20L) == ("upd-20", 9L))
    assert(m(30L) == ("row-30", 2L), "matched row no clause fires on is unchanged")
    assert(m.size == 99)
  }

  test("insert condition filters; NULL condition does not fire (SQL semantics)") {
    val t = mkTable(50, 1)
    val src = Seq((100L, "a", 1L, Some(true)), (101L, "b", 1L, Some(false)),
      (102L, "c", 1L, None))
      .toDF("doc_id", "text", "tag", "_adm")
    merge(spark, t, src, 1, notMatchedInsert = Some(srcCol("_adm")))
    val m = rows(t)
    assert(m.contains(100L) && !m.contains(101L) && !m.contains(102L),
      "only a TRUE condition inserts; FALSE and NULL both stay out")
  }

  test("by-source delete hits ONLY unmatched rows; matched rows keep their fate") {
    val t = mkTable(100, 1)
    // band [40, 60) is swept, but 45 is matched (updated) and 50 is
    // matched with no firing clause -> both survive the sweep.
    val src = Seq((45L, "upd-45", 9L, "u"), (50L, "keep", 9L, "x"))
      .toDF("doc_id", "text", "tag", "_op")
    merge(spark, t, src, 1,
      matchedUpdate = Some(srcCol("_op") === "u"),
      notMatchedBySourceDelete = Some(col("doc_id") >= 40L && col("doc_id") < 60L))
    val m = rows(t)
    assert(m(45L) == ("upd-45", 9L))
    assert(m(50L) == ("row-50", 1L))
    assert((40L until 60L).filterNot(Set(45L, 50L)).forall(k => !m.contains(k)),
      "unmatched band rows are deleted")
    assert(m.size == 100 - 18)
  }

  test("files outside the touched tiers carry BY REFERENCE") {
    val t = mkTable(800, 8) // files span ~100 keys each
    val s0 = readSnapshot(t, 0)
    val src = Seq((5L, "u5", 0L, "u"), (810L, "new", 0L, "i"))
      .toDF("doc_id", "text", "tag", "_op")
    merge(spark, t, src, 1,
      matchedUpdate = Some(srcCol("_op") === "u"),
      notMatchedInsert = Some(lit(true)),
      notMatchedBySourceDelete =
        Some(col("doc_id") >= 700L && col("doc_id") < 710L))
    val s1 = readSnapshot(t, 1)
    val v0Names = s0.files.map(_.name).toSet
    val expectCarried = s0.files.count(f =>
      !(f.minKey <= 5L && f.maxKey >= 5L) && // source-key tier
        !(f.maxKey >= 700L && f.minKey < 710L)) // by-source stats tier
    assert(s1.files.count(f => v0Names(f.name)) == expectCarried,
      "every file outside the touched tiers must carry by reference")
    assert(expectCarried >= 5, "fixture must leave a real carried mass")
  }

  test("duplicate and NULL source keys fail loudly") {
    val t = mkTable(50, 1)
    val dup = Seq((1L, "a", 0L), (1L, "b", 0L)).toDF("doc_id", "text", "tag")
    val e1 = intercept[IllegalArgumentException](
      merge(spark, t, dup, 1, matchedUpdate = Some(lit(true))))
    assert(e1.getMessage.contains("duplicate keys"))
    val nul = Seq((Some(1L), "a", 0L), (None, "b", 0L))
      .toDF("doc_id", "text", "tag")
    val e2 = intercept[IllegalArgumentException](
      merge(spark, t, nul, 1, matchedUpdate = Some(lit(true))))
    assert(e2.getMessage.contains("NULL"))
    assert(latestVersion(t) == 0, "rejected merges leave no version")
  }

  test("constraints validate inserts + fired updates; CDC delete payloads are exempt") {
    val t = mkTable(50, 1, constraints = Map("tag_nonneg" -> "tag >= 0"))
    // a delete marker with a violating payload must NOT trip the check
    // (its row never enters the table)...
    val delSrc = Seq((10L, "x", -5L, "d")).toDF("doc_id", "text", "tag", "_op")
    merge(spark, t, delSrc, 1, matchedDelete = Some(srcCol("_op") === "d"))
    assert(!rows(t).contains(10L))
    // ...but a violating INSERT and a violating fired UPDATE both do.
    val badIns = Seq((100L, "y", -1L, "i")).toDF("doc_id", "text", "tag", "_op")
    val e1 = intercept[IllegalArgumentException](
      merge(spark, t, badIns, 1, notMatchedInsert = Some(lit(true))))
    assert(e1.getMessage.contains("tag_nonneg"))
    val badUpd = Seq((20L, "z", -1L, "u")).toDF("doc_id", "text", "tag", "_op")
    val e2 = intercept[IllegalArgumentException](
      merge(spark, t, badUpd, 1, matchedUpdate = Some(srcCol("_op") === "u")))
    assert(e2.getMessage.contains("tag_nonneg"))
  }

  test("merge over a DV'd file materializes the vector; no resurrection") {
    val t = mkTable(100, 1)
    deleteKeys(spark, t, Seq(7L, 8L).toDF("doc_id"), useDv = true)
    assert(readSnapshot(t, 1).files.exists(_.dv.isDefined))
    val src = Seq((50L, "upd-50", 9L)).toDF("doc_id", "text", "tag")
    merge(spark, t, src, 1, matchedUpdate = Some(lit(true)))
    val s2 = readSnapshot(t, 2)
    assert(s2.files.forall(_.dv.isEmpty), "rewrite materializes the DV away")
    val m = rows(t)
    assert(!m.contains(7L) && !m.contains(8L), "DV'd keys stay deleted")
    assert(m(50L) == ("upd-50", 9L) && m.size == 98)
  }

  test("mergeBatch: replayed batch skips with zero commits; txn rides in the merge commit") {
    val t = mkTable(100, 1)
    val b0 = Seq((5L, "upd-5", 9L), (100L, "new", 9L)).toDF("doc_id", "text", "tag")
    assert(mergeBatch(spark, t, b0, "app", 0L, 1,
      matchedUpdate = Some(lit(true)), notMatchedInsert = Some(lit(true))))
    val s1 = readSnapshot(t, 1)
    assert(s1.op == "merge" && s1.txns.get("app").contains(0L),
      "the txn must ride in the SAME commit as the merge")
    // crash-replay of batch 0: skipped, no version, no row movement
    assert(!mergeBatch(spark, t, b0, "app", 0L, 1,
      matchedUpdate = Some(lit(true)), notMatchedInsert = Some(lit(true))))
    assert(latestVersion(t) == 1, "a skipped replay must leave no commit")
    // an older batch id also skips (monotone contract)
    assert(!mergeBatch(spark, t, b0, "app", -1L + 0L, 1,
      matchedUpdate = Some(lit(true))))
    // the txn map carries through maintenance: compact, then replay
    compact(spark, t, buckets = 2)
    assert(!mergeBatch(spark, t, b0, "app", 0L, 1,
      matchedUpdate = Some(lit(true))))
    // a NEW batch id commits; a different app id is independent
    assert(mergeBatch(spark, t, b0, "app", 1L, 1,
      matchedUpdate = Some(lit(true))))
    assert(mergeBatch(spark, t, b0, "other", 0L, 1,
      matchedUpdate = Some(lit(true))))
    assert(rows(t).size == 101)
  }

  test("upsert and mergeBatch run every job, the key check included, in the caller's job group") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val sc = spark.sparkContext
    val t = mkTable(200, 2)
    // start the global pool's workers OUTSIDE any job group: a worker
    // created while a group is set would inherit it by thread creation
    Seq.fill(16)(Future(Thread.sleep(20))(ExecutionContext.global))
      .foreach(Await.ready(_, 30.seconds))
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        groups.add(String.valueOf(Option(e.properties)
          .map(_.getProperty("spark.jobGroup.id")).orNull)); ()
      }
    }
    sc.addSparkListener(listener)
    try {
      // two groups in turn: a pool thread that kept the first group's
      // properties would tag the second group's check wrongly
      for ((g, i) <- Seq("graft-jg-a", "graft-jg-b").zipWithIndex) {
        sc.setJobGroup(g, s"job-group pin $g", interruptOnCancel = true)
        try {
          upsert(spark, t, Seq((5L + i, s"upd-$i", 50L), (300L + i, s"new-$i", 52L))
            .toDF("doc_id", "text", "tag"), 2)
          assert(mergeBatch(spark, t, Seq((7L, s"mrg-$i", 9L), (400L + i, "ins", 9L))
            .toDF("doc_id", "text", "tag"), "jg", i.toLong, 1,
            matchedUpdate = Some(lit(true)), notMatchedInsert = Some(lit(true))))
        } finally sc.clearJobGroup()
        // the listener bus is asynchronous: a sentinel job in its own
        // group marks that every earlier job start has been delivered
        sc.setJobGroup(s"$g-end", "sentinel")
        try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
        val deadline = System.nanoTime() + 30L * 1000000000L
        while (!groups.contains(s"$g-end") && System.nanoTime() < deadline)
          Thread.sleep(10)
        val seen = Iterator.continually(groups.poll())
          .takeWhile(_ != null).toList.filter(_ != s"$g-end")
        assert(seen.nonEmpty, s"no jobs observed for $g")
        assert(seen.forall(_ == g),
          s"jobs outside group $g: ${seen.filter(_ != g).mkString(", ")} " +
          s"(${seen.count(_ != g)} of ${seen.size})")
      }
    } finally sc.removeSparkListener(listener)
  }

  test("mergeBatch + autoMerge: a mid-stream upstream field widens the schema once, idempotently") {
    // the CDC-sink composition VERDICT r18 Missing #1 describes: the
    // upstream adds a field between micro-batches; the sink keeps
    // applying with autoMerge and the schema widens exactly once, in
    // the same commit as that batch — and a crash-replay of the
    // widening batch skips WITHOUT touching schema or data.
    val t = mkTable(100, 1)
    val b0 = Seq((5L, "u5", 1L)).toDF("doc_id", "text", "tag")
    assert(mergeBatch(spark, t, b0, "app", 0L, 1,
      matchedUpdate = Some(lit(true)), autoMerge = true))
    assert(!snapshot(spark, t).columns.contains("score"))
    val b1 = Seq((6L, "u6", 2L, 0.9), (200L, "new", 3L, 0.1))
      .toDF("doc_id", "text", "tag", "score")
    assert(mergeBatch(spark, t, b1, "app", 1L, 1,
      matchedUpdate = Some(lit(true)), notMatchedInsert = Some(lit(true)),
      autoMerge = true))
    val s2 = readSnapshot(t, 2)
    assert(s2.op == "merge" && snapshot(spark, t).columns.contains("score"))
    // replay of the widening batch: idempotent skip, schema untouched
    assert(!mergeBatch(spark, t, b1, "app", 1L, 1,
      matchedUpdate = Some(lit(true)), notMatchedInsert = Some(lit(true)),
      autoMerge = true))
    assert(latestVersion(t) == 2)
    val m = snapshot(spark, t).collect()
      .map(r => r.getLong(0) -> Option(r.get(3))).toMap
    assert(m(6L) == Some(0.9) && m(200L) == Some(0.1))
    assert(m(5L).isEmpty, "pre-evolution rows read NULL")
    // a later batch WITHOUT the new column still applies (autoMerge
    // allows omission: update keeps the target's score)
    assert(mergeBatch(spark, t, Seq((6L, "u6b", 4L)).toDF("doc_id", "text", "tag"),
      "app", 2L, 1, matchedUpdate = Some(lit(true)), autoMerge = true))
    val m2 = snapshot(spark, t).collect()
      .map(r => r.getLong(0) -> (r.getString(1), Option(r.get(3)))).toMap
    assert(m2(6L) == (("u6b", Some(0.9))), "omitted column keeps its value across batches")
  }

  test("extra source columns never reach the table; missing target columns are loud") {
    val t = mkTable(20, 1)
    val src = Seq((3L, "u3", 1L, "marker", 99)).toDF(
      "doc_id", "text", "tag", "_op", "extra")
    merge(spark, t, src, 1, matchedUpdate = Some(lit(true)))
    assert(snapshot(spark, t).columns.toSeq == Seq("doc_id", "text", "tag"))
    val bad = Seq((4L, "x")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException](
      merge(spark, t, bad, 1, matchedUpdate = Some(lit(true))))
    assert(e.getMessage.contains("missing"))
  }

  test("a source column with the reserved _src_ prefix is refused loudly") {
    // ADVICE r18: the rename fold would otherwise produce a duplicate
    // '_src_text' and die later as an ambiguous-reference error
    val t = mkTable(10, 1)
    val src = Seq((1L, "x", 0L, "m")).toDF("doc_id", "text", "tag", "_src_text")
    val e = intercept[IllegalArgumentException](
      merge(spark, t, src, 1, matchedUpdate = Some(lit(true))))
    assert(e.getMessage.contains("_src_"))
  }

  test("autoMerge widens the schema in the SAME commit; untouched files read NULL") {
    val t = mkTable(200, 2)
    val src = Seq((5L, "upd-5", 50L, "high"), (300L, "new-300", 51L, "low"))
      .toDF("doc_id", "text", "tag", "priority")
    val v0Names = readSnapshot(t, 0).files.map(_.name).toSet
    merge(spark, t, src, 1, matchedUpdate = Some(lit(true)),
      notMatchedInsert = Some(lit(true)), autoMerge = true)
    val s1 = readSnapshot(t, 1)
    // ONE commit: data change + widened schema together
    assert(s1.op == "merge" && s1.version == 1)
    val df = snapshot(spark, t)
    assert(df.columns.toSeq == Seq("doc_id", "text", "tag", "priority"))
    val m = df.collect().map(r => r.getLong(0) ->
      (r.getString(1), Option(r.get(3)).map(_.toString))).toMap
    assert(m(5L) == ("upd-5", Some("high")))
    assert(m(300L) == ("new-300", Some("low")))
    assert(m(100L)._2.isEmpty, "pre-evolution rows read NULL for the new column")
    // the file whose key range excludes both source keys carried BY
    // REFERENCE — schema evolution cost zero IO outside the touched tier
    assert(s1.files.exists(f => v0Names(f.name)),
      "autoMerge must not rewrite untouched files")
  }

  test("autoMerge: omitted target columns keep their value on update, NULL on insert") {
    val t = mkTable(100, 1)
    val src = Seq((7L, "seven-upd"), (500L, "five-hundred")).toDF("doc_id", "text")
    merge(spark, t, src, 1, matchedUpdate = Some(lit(true)),
      notMatchedInsert = Some(lit(true)), autoMerge = true)
    val df = snapshot(spark, t)
    val m = df.collect().map(r => r.getLong(0) ->
      (r.getString(1), Option(r.get(2)))).toMap
    assert(m(7L) == ("seven-upd", Some(0L)), "update keeps the omitted column")
    assert(m(500L) == ("five-hundred", None), "insert reads NULL for it")
    assert(m(8L) == ("row-8", Some(1L)), "untouched row intact")
  }

  test("autoMerge re-adding a DROPPED name gets a fresh physical; old bytes stay dead") {
    val t = mkTable(50, 2)
    dropColumn(t, "tag") // physical 'tag' retires into deadCols
    val src = Seq((1L, "one-upd", 99L)).toDF("doc_id", "text", "tag")
    merge(spark, t, src, 1, matchedUpdate = Some(lit(true)), autoMerge = true)
    val s = readSnapshot(t, 2)
    assert(s.colMap.get("tag").exists(_ != "tag"),
      s"re-added 'tag' must map to a fresh physical, got ${s.colMap}")
    val df = snapshot(spark, t)
    val m = df.collect().map(r => r.getLong(0) -> Option(r.get(2))).toMap
    assert(m(1L) == Some(99L))
    assert(m(2L).isEmpty, "dropped bytes must never resurrect into the re-added column")
    // the CARRIED file (no source key in range) still holds the old
    // physical 'tag' bytes on disk — they must read NULL too
    assert(m(40L).isEmpty, "carried file's dead bytes must not resurrect")
  }

  test("STRING-keyed table: merge semantics + ColStats-backed touched-tier pruning") {
    // VERDICT r19 #6: real CDC tables key on strings. Zero-padded keys
    // make string order == numeric order, so range pruning is testable.
    val t = tmpTable()
    val df = (0 until 800).map(i => (f"k-$i%06d", s"row-$i", (i % 7).toLong))
      .toDF("id", "text", "tag")
    create(spark, t, df, "id", buckets = 8)
    val s0 = readSnapshot(t, 0)
    // string keys take the sentinel lanes + per-file ColStats bounds
    assert(s0.files.forall(f => f.minKey == Long.MinValue && f.maxKey == Long.MaxValue))
    assert(s0.files.forall(_.stats.contains("id")), "key column must be stats'd")
    val src = Seq(("k-000005", "u5", 50L), ("k-000810", "new", 51L))
      .toDF("id", "text", "tag")
    merge(spark, t, src, 1,
      matchedUpdate = Some(lit(true)), notMatchedInsert = Some(lit(true)))
    val s1 = readSnapshot(t, 1)
    val m = snapshot(spark, t).collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(m.size == 801 && m("k-000005") == (("u5", 50L)) &&
      m("k-000810") == (("new", 51L)))
    // pruning: only files whose ColStats range admits a source key
    // rewrite; everything else carries BY REFERENCE
    val v0Names = s0.files.map(_.name).toSet
    def admits(f: ManifestTable.FileEntry, k: String): Boolean = {
      val st = f.stats("id"); st.min.get <= k && k <= st.max.get
    }
    val expectCarried = s0.files.count(f =>
      !admits(f, "k-000005") && !admits(f, "k-000810"))
    assert(s1.files.count(f => v0Names(f.name)) == expectCarried,
      "string-range pruning must carry untouched files by reference")
    assert(expectCarried >= 6, "fixture must leave a real carried mass")
    // upsert takes the same pruning path
    upsert(spark, t, Seq(("k-000700", "u7", 9L)).toDF("id", "text", "tag"), 1)
    assert(snapshot(spark, t).filter(col("id") === "k-000700")
      .collect()(0).getString(1) == "u7")
    // long-only surfaces refuse loudly instead of silently mis-casting
    val e1 = intercept[IllegalArgumentException](
      deleteKeys(spark, t, Seq(1L).toDF("id")))
    assert(e1.getMessage.contains("integral"))
    val e2 = intercept[IllegalArgumentException](
      deleteRange(spark, t, 0L, 10L))
    assert(e2.getMessage.contains("integral"))
    val e3 = intercept[IllegalArgumentException](
      deleteWhere(spark, t, col("tag") === 9L, useDv = true))
    assert(e3.getMessage.contains("integral"))
    // the COW deleteWhere branch works on string keys
    deleteWhere(spark, t, col("id") === "k-000700")
    assert(snapshot(spark, t).filter(col("id") === "k-000700").count() == 0)
    // unsupported key TYPES are refused at create
    val e4 = intercept[IllegalArgumentException] {
      val bad = Seq((1.5, "x")).toDF("k", "text")
      create(spark, tmpTable(), bad, "k", 1)
    }
    assert(e4.getMessage.contains("supported key types"))
  }
}
