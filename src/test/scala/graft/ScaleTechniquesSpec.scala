package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

import graft.functions.ExactNum._
import graft.operators.ScaleTechniques

class ScaleTechniquesSpec extends SparkSpec {

  test("salted two-stage agg equals the direct groupBy") {
    val salted = ScaleTechniques.saltedEventAgg(spark, sf0001)
      .orderBy("event_type").collect()
    val direct = Tables.events(spark, sf0001)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), (sum(cents(col("value"))) / 100.0).as("sum_value"))
      .orderBy("event_type").collect()
    assert(salted.sameElements(direct))
  }

  test("z-ordered layout prunes a non-leading-dimension filter; 1-D sort cannot") {
    val ev = Tables.events(spark, sf0001)
      .select("event_id", "user_id", "event_type", "value")
    val oneD = graft.streaming.OneShot.tempDir("graft-1d") + "/t"
    val zord = graft.streaming.OneShot.tempDir("graft-z") + "/t"
    // 1-D layout: range-sorted by user_id — each file spans few users but
    // the FULL event_id range, so an event_id filter reads every file
    ev.repartitionByRange(8, col("user_id"))
      .sortWithinPartitions("user_id").write.parquet(oneD)
    ScaleTechniques.writeZOrdered(ev, zord, "user_id", "event_id",
      files = 8, bits = 10)

    // stats-based pruning model: files whose event_id envelope overlaps
    // the predicate range would be read; others are skipped outright
    val (lo, hi) = (100, 224) // 1/8 of the 0..999 event_id range
    def touched(path: String): Long =
      ScaleTechniques.fileEnvelopes(spark, path, "user_id", "event_id")
        .filter(col("ymin") <= hi && col("ymax") >= lo).count()
    val (oneDTouched, zTouched) = (touched(oneD), touched(zord))
    assert(oneDTouched == 8, s"1-D layout should touch all files, got $oneDTouched")
    assert(zTouched < oneDTouched,
      s"z-order must prune: touched $zTouched of $oneDTouched")

    // the rewrite is layout-only: filtered reads return identical rows
    val a = spark.read.parquet(zord)
      .filter(col("event_id").between(lo, hi))
      .orderBy("event_id").collect()
    val b = ev.filter(col("event_id").between(lo, hi))
      .orderBy("event_id").collect()
    assert(a.sameElements(b))
  }

  test("bucketed tables co-locate: join runs with zero shuffles") {
    val ev = Tables.events(spark, sf0001)
      .select("event_id", "user_id", "event_type", "value")
    // two tables bucketed the same way on the join key
    graft.sources.Ingest.writeBucketed(ev, "ev_a", Seq("user_id"), 8)
    graft.sources.Ingest.writeBucketed(
      ev.groupBy("user_id").agg(count(lit(1)).as("n_ev")), "ev_b",
      Seq("user_id"), 8)
    val joined = spark.table("ev_a").join(spark.table("ev_b"), "user_id")
    val plan = joined.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val shuffles = plan.collect { case e: ShuffleExchangeLike => e }
    assert(shuffles.isEmpty,
      s"bucketed join should not shuffle, found ${shuffles.size}:\n$plan")
    assert(joined.count() == Tables.events(spark, sf0001).count())
  }

  test("join strategy hints are honored: shuffle_hash avoids both sort passes") {
    val ord = Tables.orders(spark, sf0001).select("o_orderkey", "o_totalprice")
    val li = Tables.lineitem(spark, sf0001).select("l_orderkey", "l_quantity")
    val j = li.join(ord.hint("shuffle_hash"),
      li("l_orderkey") === ord("o_orderkey"))
    j.count()
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"),
      s"shuffle_hash hint not honored:\n$plan")
    val merge = li.join(ord.hint("merge"),
      li("l_orderkey") === ord("o_orderkey"))
    merge.count()
    assert(merge.queryExecution.executedPlan.toString.contains("SortMergeJoin"),
      "merge hint must force a sort-merge join")
  }

  test("runtime bloom filter prefilters the fact side of a selective join") {
    // the 100 TB shape: a shuffle join whose dimension side carries a
    // selective predicate gets a row-level bloom prefilter injected on
    // the fact side, killing most shuffle traffic before the exchange.
    // Thresholds are tuned for fixture scale (the optimization is
    // size-gated; the plan shape is what scales).
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> conf.getOption(k)).toMap
    def joined() = {
      val ord = Tables.orders(spark, sf0001)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey", "o_orderpriority")
      val li = Tables.lineitem(spark, sf0001).select("l_orderkey", "l_quantity")
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
    }
    val baseline = joined().count()
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = joined()
      val opt = j.queryExecution.optimizedPlan.toString
      assert(opt.contains("might_contain") || opt.contains("bloom_filter"),
        s"no runtime bloom filter injected:\n$opt")
      assert(j.count() == baseline, "bloom prefilter must not change results")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("declared bloom-pruned join: sharp prune, exact result") {
    val dim = Tables.orders(spark, sf0001)
      .filter(col("o_orderpriority") === "1-URGENT" &&
        col("o_orderdate") >= lit("1998-06-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_orderdate"))
    val factTotal = Tables.lineitem(spark, sf0001).count()
    val survivors = ScaleTechniques.bloomPrunedFact(spark, sf0001, dim).count()
    // the slice keeps <10% of orders; at fpp 1e-6 false positives add
    // ~0 — the map-side prune must drop the overwhelming majority
    assert(survivors < factTotal * 0.15, s"$survivors of $factTotal survived")
    // and the declared query equals the plain join (FPs removed)
    val plain = Tables.lineitem(spark, sf0001)
      .join(Tables.orders(spark, sf0001)
        .filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_orderdate") >= lit("1998-06-01").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_lines"),
        (sum(graft.functions.ExactNum.cents(col("l_extendedprice"))) / 100.0)
          .as("revenue"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val got = ScaleTechniques.bloomPrunedJoin(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == plain)
    assert(got.nonEmpty)
  }

  test("declared bucketed join: exchange-free and sort-free merge, " +
      "result equals the plain join") {
    val conf = spark.conf
    val saved = conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = ScaleTechniques.bucketedJoin(spark, sf0001)
      df.collect()
      val plan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      // join-side shape: the only exchange in the whole plan is the
      // final tiny rollup; the SMJ below it reads co-located buckets
      val shuffles = plan.toString.split('\n').count(_.contains("Exchange hashpartitioning"))
      assert(plan.toString.contains("SortMergeJoin"),
        s"expected SMJ off the bucketed layout:\n$plan")
      assert(shuffles <= 1, s"bucketed join must not shuffle its inputs:\n$plan")
      // no Sort operator below the join either: bucket files are sorted
      val joinIdx = plan.toString.indexOf("SortMergeJoin")
      assert(!plan.toString.substring(joinIdx).contains("+- Sort "),
        s"bucketed join inputs must arrive pre-sorted:\n$plan")
      // layout never changes results
      val direct = Tables.lineitem(spark, sf0001)
        .join(Tables.orders(spark, sf0001),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_lines"),
          (sum(cents(col("l_extendedprice"))) / 100.0).as("revenue"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      val got = df.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == direct)
    } finally saved match {
      case Some(v) => conf.set("spark.sql.autoBroadcastJoinThreshold", v)
      case None => conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("dynamic partition pruning: runtime IN-filter reads only the " +
      "dim-selected month dirs, result equals the direct computation") {
    val df = ScaleTechniques.dppPrunedJoin(spark, sf0001)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // plan pin: the fact scan's partition filters carry a runtime
    // dynamicpruningexpression fed by the broadcast dim result
    val planStr = df.queryExecution.executedPlan.toString
    assert(planStr.toLowerCase.contains("dynamicpruning"),
      s"no dynamic partition pruning in plan:\n$planStr")
    // pruned I/O: the scan touched only the quarter's month dirs, out
    // of the full month layout on disk
    val path = ScaleTechniques.partitionedOrdersPath(spark, sf0001)
    val monthsOnDisk = new java.io.File(path).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("o_month="))
    // AQE wraps materialized stages in leaf QueryStageExec nodes, so a
    // plain collect never reaches the scan — walk through them
    def nodes(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => Seq(r.child)
        case _ => p.children
      }
      p +: kids.flatMap(nodes)
    }
    val scan = nodes(df.queryExecution.executedPlan).collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.metadata.get("Location").exists(_.contains("graft_part_orders")) => s
    }.getOrElse(fail(s"no partitioned fact scan found:\n${df.queryExecution.executedPlan}"))
    val partsRead = scan.metrics("numPartitions").value
    assert(monthsOnDisk > 40, s"fixture spans $monthsOnDisk months")
    assert(partsRead <= 3, s"DPP must read <=3 of $monthsOnDisk dirs, read $partsRead")
    // rewrite is layout+pruning only: equality with the direct filter
    val direct = Tables.orders(spark, sf0001)
      .filter(year(col("o_orderdate")) === 1996 &&
        quarter(col("o_orderdate")) === 1)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("o_month"))
      .agg(count(lit(1)).as("n_orders"),
        (sum(cents(col("o_totalprice"))) / 100.0).as("revenue"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      == direct)
  }

  test("zorder DPP: runtime filter prunes the box to its z-tile dirs; " +
      "result equals the direct box rollup") {
    val df = ScaleTechniques.zorderDppBox(spark, sf0001)
    val got = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).head
    val planStr = df.queryExecution.executedPlan.toString
    assert(planStr.toLowerCase.contains("dynamicpruning"),
      s"no dynamic partition pruning in plan:\n$planStr")
    val path = ScaleTechniques.zorderPartitionedEventsPath(spark, sf0001)
    val tilesOnDisk = new java.io.File(path).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("ztile="))
    def nodes(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => Seq(r.child)
        case _ => p.children
      }
      p +: kids.flatMap(nodes)
    }
    val scan = nodes(df.queryExecution.executedPlan).collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.metadata.get("Location").exists(_.contains("graft_zpart_events")) => s
    }.getOrElse(fail(s"no z-tiled fact scan found:\n${df.queryExecution.executedPlan}"))
    val partsRead = scan.metrics("numPartitions").value
    // the default box (x 5..10, d 17..34) overlaps 2 x-bands x 5
    // d-bands of the 4-wide tile grid — DPP must read at most those 10
    assert(tilesOnDisk > 12, s"fixture spans only $tilesOnDisk tiles")
    assert(partsRead <= 10,
      s"DPP must read <=10 of $tilesOnDisk tile dirs, read $partsRead")
    // layout + pruning only: equality with the direct box rollup
    val mask = 255L
    val x = col("user_id").bitwiseAND(lit(mask))
    val d = floor(unix_micros(col("ts")) / lit(86400000000L)).cast("long")
      .bitwiseAND(lit(mask))
    val direct = Tables.events(spark, sf0001)
      .select(x.as("x"), d.as("d"), cents(col("value")).as("c"))
      .withColumn("ztile",
        shiftright(ScaleTechniques.zorderValue(col("x"), col("d"), 8), 4))
      .filter(col("x").between(5, 10) && col("d").between(17, 34))
      .agg(countDistinct(col("ztile")), count(lit(1)), sum(col("c")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).head
    assert(got == direct, s"pruned $got != direct $direct")
  }

  test("hilbert DPP: runtime filter prunes the box to its tile dirs; " +
      "catalog envelopes are exact; result equals the direct rollup") {
    val df = ScaleTechniques.hilbertDppBox(spark, sf0001)
    val got = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).head
    val planStr = df.queryExecution.executedPlan.toString
    assert(planStr.toLowerCase.contains("dynamicpruning"),
      s"no dynamic partition pruning in plan:\n$planStr")
    val path = ScaleTechniques.hilbertPartitionedEventsPath(spark, sf0001)
    val tilesOnDisk = new java.io.File(path).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("htile="))
    def nodes(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => Seq(r.child)
        case _ => p.children
      }
      p +: kids.flatMap(nodes)
    }
    val scan = nodes(df.queryExecution.executedPlan).collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.metadata.get("Location").exists(_.contains("graft_hpart_events")) => s
    }.getOrElse(fail(s"no hilbert fact scan found:\n${df.queryExecution.executedPlan}"))
    val partsRead = scan.metrics("numPartitions").value
    // even shift=4 makes each Hilbert tile one ALIGNED 4x4 square, so
    // the box (x 5..10, d 17..34) overlaps the same 2 x 5 band grid as
    // the Morton tiling — at most 10 dirs
    assert(tilesOnDisk > 12, s"fixture spans only $tilesOnDisk tiles")
    assert(partsRead <= 10,
      s"DPP must read <=10 of $tilesOnDisk tile dirs, read $partsRead")
    // the driver-derived catalog envelopes are EXACT: every stored row
    // falls inside its own tile's inverse-transform envelope
    val span = 1L << 4
    val facts = spark.read.parquet(path)
      .select("htile", "x", "d").collect()
    facts.foreach { r =>
      val (t, x, d) = (r.getInt(0).toLong, r.getLong(1), r.getLong(2))
      var (xlo, xhi, ylo, yhi) = (Long.MaxValue, Long.MinValue,
        Long.MaxValue, Long.MinValue)
      var i = 0L
      while (i < span) {
        val (px, py) = graft.functions.HilbertImpl.position((t << 4) + i, 8)
        if (px < xlo) xlo = px; if (px > xhi) xhi = px
        if (py < ylo) ylo = py; if (py > yhi) yhi = py
        i += 1
      }
      assert(x >= xlo && x <= xhi && d >= ylo && d <= yhi,
        s"row ($x,$d) outside tile $t envelope [$xlo,$xhi]x[$ylo,$yhi]")
    }
    // layout + pruning only: equality with the direct box rollup
    val mask = 255L
    val x = col("user_id").bitwiseAND(lit(mask))
    val d = floor(unix_micros(col("ts")) / lit(86400000000L)).cast("long")
      .bitwiseAND(lit(mask))
    val direct = Tables.events(spark, sf0001)
      .select(x.as("x"), d.as("d"), cents(col("value")).as("c"))
      .withColumn("htile", shiftright(
        graft.functions.HilbertCurve.hilbertIndex(col("x"), col("d"), 8), 4))
      .filter(col("x").between(5, 10) && col("d").between(17, 34))
      .agg(countDistinct(col("htile")), count(lit(1)), sum(col("c")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).head
    assert(got == direct, s"pruned $got != direct $direct")
  }

  test("zorder zone maps: tiles are disjoint 2-D boxes covering all rows") {
    val tiles = ScaleTechniques.zorderBucketStats(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(tiles.length > 1, "fixture must split into multiple Z-tiles")
    assert(tiles.map(_._2).sum == Tables.events(spark, sf0001).count())
    // with bits=8, shift=10 each tile spans < 32 in both dimensions —
    // the bounded envelope is what makes the zone map prune
    tiles.foreach { case (b, _, xmin, xmax, dmin, dmax) =>
      assert(xmax - xmin < 32 && dmax - dmin < 32, s"bucket $b envelope")
    }
    // envelope boxes of distinct tiles never overlap (true Z-tiling)
    for {
      a <- tiles; b <- tiles if a._1 < b._1
    } assert(a._3 > b._4 || b._3 > a._4 || a._5 > b._6 || b._5 > a._6,
      s"tiles ${a._1} and ${b._1} overlap")
  }

  test("minmax skipping: sorted layout prunes, natural barely; results equal") {
    // small files so even sf0.001 yields a multi-file model
    val rows = ScaleTechniques.minmaxSkipping(spark, sf0001,
      rowsPerFile = 256).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    val (nfN, skN, _, scanN, mN) = rows("natural")
    val (nfS, skS, pmS, scanS, mS) = rows("shipdate_sorted")
    assert(nfN == nfS, "same row count -> same file count")
    assert(nfN > 4, "fixture must model multiple files")
    assert(mN == mS && mN > 0, "matched rows identical across layouts")
    // every unskipped file may contain matches; scanned covers them
    assert(scanN >= mN && scanS >= mS)
    // the point of the rewrite: sorted layout skips strictly more
    assert(skS > skN, s"sorted should skip more: $skS vs $skN")
    assert(pmS >= 500, "one-month band over 6+ years: most files skip")
    // scanned rows shrink accordingly
    assert(scanS < scanN, "sorted layout scans fewer rows")
  }
}
