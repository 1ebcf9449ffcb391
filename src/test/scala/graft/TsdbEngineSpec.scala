package graft

import graft.engine.TsdbEngine
import org.apache.spark.sql.functions._

class TsdbEngineSpec extends SparkSpec {

  private def engine() = new TsdbEngine(spark, tmpDir("graft-wh"))

  test("F1 demo: create / insert / select round-trip") {
    val e = engine()
    e.execute(
      """CREATE TABLE `demo` (
        |    `name` string TAG,
        |    `value` double NOT NULL,
        |    `t` timestamp NOT NULL,
        |    timestamp KEY (t))
        |ENGINE=Analytic with (enable_ttl='false')""".stripMargin)
    e.execute("INSERT INTO demo (t, name, value) VALUES (1702224000000, 'horaedb', 100)")
    val rows = e.execute("SELECT * FROM `demo`").collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[String]("name") == "horaedb")
    assert(r.getAs[Double]("value") == 100.0)
    assert(r.getAs[java.sql.Timestamp]("t").getTime == 1702224000000L)
  }

  test("tag columns get parquet bloom filters at write (Xor8-filter analogue)") {
    val e = engine()
    e.execute(
      """CREATE TABLE bf (host string TAG, region string TAG, value double,
        |  t timestamp NOT NULL, timestamp KEY(t))
        |ENGINE=Analytic WITH (enable_ttl='false')""".stripMargin)
    e.execute(
      "INSERT INTO bf (t, host, region, value) VALUES (1702224000000, 'h1', 'eu', 1.0)")
    val dir = new java.io.File(e.catalog.dataDir("bf"))
    val part = dir.listFiles().filter(_.getName.endsWith(".parquet")).head
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(part.getAbsolutePath),
        new org.apache.hadoop.conf.Configuration()))
    try {
      val cols = reader.getFooter.getBlocks.get(0).getColumns
      val offsets = (0 until cols.size()).map { i =>
        cols.get(i).getPath.toDotString -> cols.get(i).getBloomFilterOffset
      }.toMap
      assert(offsets("host") >= 0 && offsets("region") >= 0,
        s"tag columns missing bloom filters: $offsets")
      assert(offsets("value") < 0, s"non-tag column got a bloom filter: $offsets")
    } finally reader.close()
  }

  test("overwrite mode dedups on (tsid, ts); append mode keeps duplicates (F2)") {
    val e = engine()
    for (mode <- Seq("overwrite", "append")) {
      e.execute(
        s"""CREATE TABLE t_$mode (`timestamp` timestamp NOT NULL, arch string TAG,
           | v int, timestamp KEY(timestamp))
           | ENGINE=Analytic WITH(update_mode='$mode', enable_ttl='false')""".stripMargin)
      e.execute(s"INSERT INTO t_$mode (timestamp, arch, v) VALUES (1000, 'x86', 1), (2000, 'x86', 2)")
      // same (tag, ts) re-inserted with a new value
      e.execute(s"INSERT INTO t_$mode (timestamp, arch, v) VALUES (1000, 'x86', 9)")
    }
    val over = e.execute("SELECT v FROM t_overwrite ORDER BY v").collect().map(_.getInt(0))
    assert(over.toSeq == Seq(2, 9), "newest sequence wins per PK")
    val app = e.execute("SELECT v FROM t_append ORDER BY v").collect().map(_.getInt(0))
    assert(app.toSeq == Seq(1, 2, 9), "append keeps every row")
  }

  test("distinct tag combinations keep distinct tsids (no false dedup)") {
    val e = engine()
    e.execute(
      """CREATE TABLE m (ts timestamp NOT NULL, host string TAG, dc string TAG,
        | v double, timestamp KEY(ts)) ENGINE=Analytic WITH(enable_ttl='false')""".stripMargin)
    e.execute(
      """INSERT INTO m (ts, host, dc, v) VALUES
        | (1000, 'h1', 'us', 1.0), (1000, 'h2', 'us', 2.0),
        | (1000, 'h1', 'eu', 3.0), (1000, NULL, 'us', 4.0)""".stripMargin)
    assert(e.execute("SELECT count(*) AS n FROM m").head().getLong(0) == 4L)
  }

  test("default values fill omitted columns; NOT NULL without default rejects") {
    val e = engine()
    e.execute(
      """CREATE TABLE d (ts timestamp NOT NULL, tag1 string TAG,
        | v double DEFAULT 9.5, req int NOT NULL,
        | timestamp KEY(ts)) ENGINE=Analytic WITH(enable_ttl='false')""".stripMargin)
    e.execute("INSERT INTO d (ts, tag1, req) VALUES (1000, 'a', 7)")
    val r = e.execute("SELECT v, req FROM d").head()
    assert(r.getDouble(0) == 9.5 && r.getInt(1) == 7)
    intercept[IllegalArgumentException] {
      e.execute("INSERT INTO d (ts, tag1) VALUES (2000, 'b')")
    }
  }

  test("segment_duration splits storage into time segments and prunes") {
    val e = engine()
    e.execute(
      """CREATE TABLE seg (ts timestamp NOT NULL, v double, timestamp KEY(ts))
        | ENGINE=Analytic WITH(segment_duration='2h', enable_ttl='false')""".stripMargin)
    // 3 rows across two 2h segments (0h and 2h)
    e.execute("INSERT INTO seg (ts, v) VALUES (0, 1.0), (3600000, 2.0), (7200000, 3.0)")
    val segDirs = new java.io.File(e.catalog.dataDir("seg")).listFiles()
      .filter(_.getName.startsWith("__segment=")).map(_.getName).sorted
    assert(segDirs.toSeq == Seq("__segment=0", "__segment=1"))
    assert(e.execute("SELECT sum(v) AS s FROM seg").head().getDouble(0) == 6.0)
  }

  test("epoch-integer comparisons against the timestamp key work (ANSI mode)") {
    val e = engine()
    e.execute(
      """CREATE TABLE ep (t timestamp NOT NULL, v double, timestamp KEY(t))
        | ENGINE=Analytic WITH(enable_ttl='false')""".stripMargin)
    e.execute("INSERT INTO ep (t, v) VALUES (1695348000000, 1.0), (1695348001000, 2.0), (1695348002000, 3.0)")
    assert(e.execute("SELECT count(*) AS n FROM ep WHERE t > 1695348000000").head().getLong(0) == 2L)
    assert(e.execute("SELECT count(*) AS n FROM ep WHERE t BETWEEN 1695348001000 AND 1695348002000")
      .head().getLong(0) == 2L)
    assert(e.execute("SELECT v FROM ep WHERE t = 1695348002000").head().getDouble(0) == 3.0)
  }

  test("ALTER TABLE ADD COLUMN: old rows surface null (schema versioning)") {
    val e = engine()
    e.execute(
      """CREATE TABLE ev (ts timestamp NOT NULL, v double, timestamp KEY(ts))
        | ENGINE=Analytic WITH(enable_ttl='false')""".stripMargin)
    e.execute("INSERT INTO ev (ts, v) VALUES (1000, 1.5)")
    e.execute("ALTER TABLE ev ADD COLUMN (extra string)")
    e.execute("INSERT INTO ev (ts, v, extra) VALUES (2000, 2.5, 'new')")
    val rows = e.execute("SELECT ts, v, extra FROM ev ORDER BY ts").collect()
    assert(rows(0).isNullAt(2) && rows(1).getString(2) == "new")
    assert(e.catalog.get("ev").version == 2)
  }

  test("SHOW TABLES / SHOW CREATE TABLE / DESCRIBE / EXISTS / system tables") {
    val e = engine()
    e.execute(
      """CREATE TABLE st (ts timestamp NOT NULL, host string TAG, v double,
        | timestamp KEY(ts)) ENGINE=Analytic WITH(enable_ttl='false')""".stripMargin)
    assert(e.execute("SHOW TABLES").collect().map(_.getString(0)).contains("st"))
    assert(e.execute("SHOW TABLES LIKE 's%'").count() == 1)
    assert(e.execute("SHOW DATABASES").head().getString(0) == "public")
    val ddl = e.execute("SHOW CREATE TABLE st").head().getString(1)
    assert(ddl.contains("TIMESTAMP KEY(ts)") && ddl.contains("`host` string TAG"))
    assert(ddl.contains("PRIMARY KEY(tsid,ts)") && ddl.contains("`tsid` uint64 NOT NULL"))
    // round-trip: the reconstructed DDL re-parses to the same schema
    val reparsed = graft.ddl.DdlParser.parse(ddl.replace("`st`", "`st2`"))
    val graft.ddl.CreateTable(sch2, _) = reparsed: @unchecked
    assert(sch2.columns == e.catalog.get("st").columns)
    val desc = e.execute("DESCRIBE st").collect()
    // canonical order: PK (tsid, ts) first, like the reference's DESCRIBE
    assert(desc.map(_.getString(0)).toSeq == Seq("tsid", "ts", "host", "v"))
    assert(desc.head.getString(1) == "uint64" && desc.head.getBoolean(2))
    assert(e.execute("EXISTS TABLE st").head().getLong(0) == 1L)
    assert(e.execute("EXISTS TABLE nope").head().getLong(0) == 0L)
    val sys = e.execute("SELECT table_name FROM system.public.tables").collect()
    assert(sys.map(_.getString(0)).contains("st"))
  }

  test("DROP TABLE removes data; IF EXISTS is lenient") {
    val e = engine()
    e.execute(
      """CREATE TABLE gone (ts timestamp NOT NULL, timestamp KEY(ts))
        | ENGINE=Analytic""".stripMargin)
    e.execute("DROP TABLE gone")
    assert(!e.catalog.exists("gone"))
    e.execute("DROP TABLE IF EXISTS gone") // no throw
    intercept[IllegalStateException] { e.execute("DROP TABLE gone") }
  }

  test("TTL filters expired rows at read (table/data.rs:744 semantics)") {
    val e = engine()
    e.execute(
      """CREATE TABLE ttl_t (ts timestamp NOT NULL, v double, timestamp KEY(ts))
        | ENGINE=Analytic WITH(enable_ttl='true', ttl='1d')""".stripMargin)
    val now = System.currentTimeMillis()
    e.execute(s"INSERT INTO ttl_t (ts, v) VALUES ($now, 1.0), (${now - 3 * 86400000L}, 2.0)")
    val vs = e.execute("SELECT v FROM ttl_t").collect().map(_.getDouble(0))
    assert(vs.toSeq == Seq(1.0), "row older than ttl must not surface")
  }

  test("time_bucket and thetasketch_distinct are SQL-callable") {
    val e = engine()
    e.execute(
      """CREATE TABLE fb (ts timestamp NOT NULL, host string TAG, v double,
        | timestamp KEY(ts)) ENGINE=Analytic WITH(enable_ttl='false')""".stripMargin)
    e.execute(
      """INSERT INTO fb (ts, host, v) VALUES
        | (0, 'a', 1.0), (60000, 'a', 2.0), (300000, 'b', 3.0), (360000, 'c', 4.0)""".stripMargin)
    val buckets = e.execute(
      "SELECT time_bucket(ts, 'PT5M') AS b, count(*) AS n FROM fb GROUP BY b ORDER BY b")
      .collect()
    assert(buckets.length == 2 && buckets(0).getLong(1) == 2L && buckets(1).getLong(1) == 2L)
    val sketch = e.execute("SELECT thetasketch_distinct(host) AS n FROM fb").head().getLong(0)
    assert(sketch == 3L)
  }

  test("newest-wins dedup survives many-partition earlier batches (seq encoding)") {
    import org.apache.spark.sql.functions._
    val e = new graft.engine.TsdbEngine(spark,
      java.nio.file.Files.createTempDirectory("seq-enc").toString)
    e.execute(
      """CREATE TABLE se (host string TAG, v double, t timestamp NOT NULL,
        |  timestamp KEY(t)) ENGINE=Analytic WITH (update_mode='overwrite')""".stripMargin)
    import spark.implicits._
    // batch 1: 150 partitions — with a packed (seq<<40)+id encoding the
    // partition id spills into later batches' sequence blocks
    val b1 = (0 until 300).map(i =>
        (s"h${i % 3}", 1.0, new java.sql.Timestamp(1704067200000L + (i % 3))))
      .toDF("host", "v", "t").repartition(150)
    e.append("se", b1)
    // batch 2: overwrite one PK — must win over EVERY batch-1 row
    val b2 = Seq(("h0", 99.0, new java.sql.Timestamp(1704067200000L)))
      .toDF("host", "v", "t")
    e.append("se", b2)
    val got = e.read("se")
      .filter(col("host") === "h0" && col("t") === lit(new java.sql.Timestamp(1704067200000L)))
      .select("v").collect()
    assert(got.length == 1 && got(0).getDouble(0) == 99.0,
      s"latest batch must win, got ${got.toSeq}")
  }

  test("table identifiers resolve case-sensitively (case_sensitive.sql parity)") {
    val e = engine()
    e.execute(
      """CREATE TABLE case_SENSITIVE_t1 (ts timestamp NOT NULL, VALUE1 double,
        | timestamp KEY(ts)) ENGINE=Analytic WITH (enable_ttl='false')""".stripMargin)
    e.execute("INSERT INTO case_SENSITIVE_t1 (ts, VALUE1) VALUES (1, 10), (2, 20)")
    assert(e.runSql("SELECT * FROM case_SENSITIVE_t1").count() == 2)
    val ex = intercept[IllegalArgumentException](
      e.runSql("SELECT * FROM CASE_SENSITIVE_T1"))
    assert(ex.getMessage.contains("not found"), ex.getMessage)
    intercept[IllegalArgumentException](
      e.runSql("SELECT * FROM `case_sensitive_t1`"))
    // COLUMN identifiers too (the reference rejects
    // `SELECT VALUE1 ... WHERE value1 > 0` mixing declared case)
    assert(e.runSql(
      "SELECT VALUE1 FROM case_SENSITIVE_t1 WHERE VALUE1 > 0").count() == 2)
    val cx = intercept[IllegalArgumentException](
      e.runSql("SELECT value1 FROM case_SENSITIVE_t1"))
    assert(cx.getMessage.contains("case-sensitive"), cx.getMessage)
    intercept[IllegalArgumentException](
      e.runSql("SELECT VALUE1 FROM case_SENSITIVE_t1 WHERE value1 > 0"))
    // a query-defined alias in ANY case is exempt (a case-sensitive
    // resolver binds the alias, not the column)
    assert(e.runSql(
      """SELECT Value1 FROM
        |  (SELECT VALUE1 AS Value1 FROM case_SENSITIVE_t1)""".stripMargin)
      .count() == 2)
  }

  test("CTE names are not treated as catalog tables by the validators") {
    val e = engine()
    e.execute(
      """CREATE TABLE events_cte (ts timestamp NOT NULL, v double, timestamp KEY(ts))
        | ENGINE=Analytic WITH (enable_ttl='false')""".stripMargin)
    e.execute("INSERT INTO events_cte (ts, v) VALUES (1, 1.0), (2, 2.0)")
    // CTE whose name case-insensitively collides with a real table
    assert(e.runSql(
      """WITH Events_CTE AS (SELECT 42 AS x) SELECT * FROM Events_CTE""")
      .head().getInt(0) == 42)
    // __-prefixed CTE name is a user name, not an internal table
    assert(e.runSql(
      """WITH __totals AS (SELECT count(*) AS c FROM events_cte)
        |SELECT c FROM __totals""".stripMargin).head().getLong(0) == 2L)
  }

  test("compaction keeps superseded generations one cycle + wall grace (reader grace)") {
    val e = engine()
    e.execute(
      """CREATE TABLE gcx (ts timestamp NOT NULL, v double, timestamp KEY(ts))
        | ENGINE=Analytic WITH (update_mode='overwrite')""".stripMargin)
    e.execute("INSERT INTO gcx (ts, v) VALUES (1, 1.0)")
    val gen0 = new java.io.File(e.catalog.genDataDir("gcx", 0))
    e.compact("gcx")
    assert(gen0.exists(), "gen 0 must survive one compaction cycle")
    e.execute("INSERT INTO gcx (ts, v) VALUES (2, 2.0)")
    e.compact("gcx")
    // wall-clock grace: the second flip must NOT delete gen 0 yet — a slow
    // in-flight reader may still hold a file listing over it (two quick
    // flips under a count-only grace were the FILE_NOT_EXIST race)
    assert(gen0.exists(), "gen 0 must survive inside the wall-clock grace")
    e.genGraceMs = 0
    e.execute("INSERT INTO gcx (ts, v) VALUES (3, 3.0)")
    e.compact("gcx")
    assert(!gen0.exists(), "gen 0 must be GC'd once cycle + wall grace expired")
    assert(!new java.io.File(e.catalog.genDataDir("gcx", 1)).exists(),
      "gen 1 must be GC'd too (superseded two flips ago, grace 0)")
    assert(new java.io.File(e.catalog.genDataDir("gcx", 2)).exists(),
      "the one-generation grace always keeps the newest superseded gen")
    assert(e.read("gcx").count() == 3)
  }

  test("validator blocks internal storage columns and tables (validator.rs parity)") {
    val e = engine()
    e.execute(
      """CREATE TABLE vt (host string TAG, v double, t timestamp NOT NULL,
        |  timestamp KEY(t))
        |PARTITION BY KEY(host) PARTITIONS 4
        |ENGINE=Analytic WITH (segment_duration='1h')""".stripMargin)
    e.execute("INSERT INTO vt (t, host, v) VALUES (1704067200000, 'a', 1.0)")
    for (c <- Seq("__seq", "__subseq", "__segment", "__bucket")) {
      val ex = intercept[IllegalArgumentException](
        e.runSql(s"SELECT $c FROM vt"))
      assert(ex.getMessage.contains("internal storage column"), s"$c: ${ex.getMessage}")
      intercept[IllegalArgumentException](
        e.runSql(s"SELECT * FROM vt WHERE $c = 0"))
    }
    val exT = intercept[IllegalArgumentException](e.runSql("SELECT * FROM __bucket_0"))
    assert(exT.getMessage.contains("internal table"))
    // plain user SQL still fine
    assert(e.runSql("SELECT host, v FROM vt").count() == 1)
  }

  test("snapshot export/import: portable clone with identical data and semantics") {
    val e = engine()
    e.execute(
      """CREATE TABLE snap (host string TAG, v double, t timestamp NOT NULL,
        |  timestamp KEY(t))
        | ENGINE=Analytic WITH (update_mode='overwrite', segment_duration='1h')""".stripMargin)
    e.execute("INSERT INTO snap (t, host, v) VALUES (1704067200000, 'a', 1.0)")
    e.execute("INSERT INTO snap (t, host, v) VALUES (1704067200000, 'a', 2.0), (1704070800000, 'b', 3.0)")
    def rows(en: graft.engine.TsdbEngine, n: String) =
      en.read(n).orderBy("host", "t").collect()
        .map(r => (r.getAs[String]("host"), r.getAs[java.sql.Timestamp]("t").getTime,
          r.getAs[Double]("v"))).toSeq
    val expect = Seq(("a", 1704067200000L, 2.0), ("b", 1704070800000L, 3.0))
    assert(rows(e, "snap") == expect)

    val dir = tmpDir("snap-out")
    e.exportSnapshot("snap", dir)

    // clone under a new name in the SAME engine: data + overwrite
    // semantics identical, and fully independent of the source table
    e.importSnapshot(dir, "snap2")
    assert(rows(e, "snap2") == expect)
    e.execute("INSERT INTO snap2 (t, host, v) VALUES (1704067200000, 'a', 9.0)")
    assert(rows(e, "snap2") == Seq(("a", 1704067200000L, 9.0), ("b", 1704070800000L, 3.0)))
    assert(rows(e, "snap") == expect, "source table must be unaffected by clone writes")

    // restore into a DIFFERENT engine/warehouse (the disaster-recovery path)
    val e2 = new graft.engine.TsdbEngine(spark, tmpDir("snap-wh2"))
    e2.importSnapshot(dir, "snap")
    assert(rows(e2, "snap") == expect)
    assert(e2.runSql("SELECT count(*) AS n FROM snap").head().getLong(0) == 2)

    // a post-compaction snapshot carries the seq floor (no dedup window)
    e.compact("snap")
    val dir2 = tmpDir("snap-out2")
    e.exportSnapshot("snap", dir2)
    e2.importSnapshot(dir2, "snap_compacted")
    assert(rows(e2, "snap_compacted") == expect)
  }

  test("small-file compaction: bin-packs only fragmented segments, purely physical") {
    val e = engine()
    e.execute(
      """CREATE TABLE sfc (host string TAG, v double, t timestamp NOT NULL,
        |  timestamp KEY(t))
        | ENGINE=Analytic WITH (update_mode='overwrite', segment_duration='1h')""".stripMargin)
    // segment A (hour 0): five separate appends → five files; one of them
    // is a PK duplicate so read-side dedup is observable afterward.
    // segment B (hour 1): one append → healthy, must be linked untouched
    val h0 = 1704067200000L; val h1 = h0 + 3600000L
    (0 until 4).foreach(i =>
      e.execute(s"INSERT INTO sfc (t, host, v) VALUES (${h0 + i}, 'a', $i.0)"))
    e.execute(s"INSERT INTO sfc (t, host, v) VALUES ($h0, 'a', 9.0)") // dup PK of v=0.0
    e.execute(s"INSERT INTO sfc (t, host, v) VALUES ($h1, 'b', 7.0)")

    def snapshot() = e.read("sfc").orderBy("host", "t").collect()
      .map(r => (r.getAs[String]("host"), r.getAs[java.sql.Timestamp]("t").getTime,
        r.getAs[Double]("v"))).toSeq
    def segFiles(dir: String): Map[String, Int] = {
      val root = new java.io.File(dir)
      root.listFiles().filter(_.isDirectory).map { d =>
        d.getName -> d.listFiles().count(f =>
          f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      }.toMap
    }
    val before = snapshot()
    val filesBefore = segFiles(e.catalog.dataDir("sfc"))
    val fragSeg = s"__segment=${h0 / 3600000L}"
    val okSeg = s"__segment=${h1 / 3600000L}"
    assert(filesBefore(fragSeg) == 5 && filesBefore(okSeg) == 1, filesBefore.toString)

    val (total, rewritten, fb, fa) =
      e.compactSmallFiles("sfc", maxFilesPerSegment = 2)
    assert(total == 2 && rewritten == 1, s"($total, $rewritten)")
    assert(fb == 6 && fa < fb, s"($fb, $fa)")
    val filesAfter = segFiles(e.catalog.dataDir("sfc"))
    assert(filesAfter(fragSeg) == 1, filesAfter.toString) // bin-packed
    assert(filesAfter(okSeg) == 1) // linked through
    // PHYSICAL only: all 6 rows still on disk (incl. the PK duplicate) …
    assert(spark.read.parquet(e.catalog.dataDir("sfc")).count() == 6)
    // … and read-side dedup still applies, results identical
    assert(snapshot() == before, "small-file compaction must not change results")
    assert(snapshot() == Seq(("a", h0, 9.0), ("a", h0 + 1, 1.0), ("a", h0 + 2, 2.0),
      ("a", h0 + 3, 3.0), ("b", h1, 7.0)))
    // a later LOGICAL compaction over the packed layout still dedups
    e.compact("sfc")
    assert(spark.read.parquet(e.catalog.dataDir("sfc")).count() == 5)
    assert(snapshot() == before)
  }

  test("small-file compaction scales: 1000 fragmented leaves, one pass, rows verbatim") {
    // the per-leaf parts map rides a BROADCAST-JOINED plan table — the
    // previous per-leaf when()-chain at this leaf count builds a
    // 1000-branch CaseWhen (codegen falls back to interpreted past the
    // method-size limit and analysis grows with the expression tree)
    import org.apache.spark.sql.functions.{col, expr}
    val e = engine()
    e.execute(
      """CREATE TABLE sfm (host string TAG, v double, t timestamp NOT NULL,
        |  timestamp KEY(t))
        | ENGINE=Analytic WITH (update_mode='overwrite', segment_duration='1h')""".stripMargin)
    import spark.implicits._
    val h0 = 1704067200000L
    def batch(off: Double) = (0 until 1000)
      .map(i => (h0 + i * 3600000L, s"h${i % 7}", i + off))
      .toDF("ms", "host", "v")
      .select(col("host"), col("v"),
        expr("timestamp_micros(ms * 1000)").as("t"))
    e.append("sfm", batch(0.0))
    e.append("sfm", batch(0.5)) // same PKs: newest must win after rewrite
    val before = e.read("sfm").orderBy("t", "host").collect().toSeq
    val (total, rewritten, fb, fa) =
      e.compactSmallFiles("sfm", maxFilesPerSegment = 1)
    assert(total == 1000 && rewritten == 1000, s"($total, $rewritten)")
    assert(fb == 2000 && fa == 1000, s"($fb, $fa)") // bin-packed per leaf
    // physical only: both versions still on disk, read results identical
    assert(spark.read.parquet(e.catalog.dataDir("sfm")).count() == 2000)
    assert(e.read("sfm").orderBy("t", "host").collect().toSeq == before)
  }

  test("compaction: same results, dedup window dropped, re-enabled on append") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    def hasDedupWindow(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collect { case w: LWindow => w }.nonEmpty
    val e = engine()
    e.execute(
      """CREATE TABLE cx (host string TAG, v double, t timestamp NOT NULL,
        |  timestamp KEY(t))
        | ENGINE=Analytic WITH (update_mode='overwrite', segment_duration='1h')""".stripMargin)
    // interleaved duplicate inserts across separate batches
    e.execute("INSERT INTO cx (t, host, v) VALUES (1704067200000, 'a', 1.0), (1704070800000, 'a', 2.0)")
    e.execute("INSERT INTO cx (t, host, v) VALUES (1704067200000, 'a', 10.0), (1704067200000, 'b', 5.0)")
    e.execute("INSERT INTO cx (t, host, v) VALUES (1704067200000, 'b', 50.0)")
    def snapshot() = e.read("cx").orderBy("host", "t").collect()
      .map(r => (r.getAs[String]("host"), r.getAs[java.sql.Timestamp]("t").getTime,
        r.getAs[Double]("v"))).toSeq
    val before = snapshot()
    assert(before == Seq(("a", 1704067200000L, 10.0), ("a", 1704070800000L, 2.0),
      ("b", 1704067200000L, 50.0)))
    assert(hasDedupWindow(e.read("cx")), "pre-compaction read must dedup")

    e.compact("cx")
    assert(snapshot() == before, "compaction must not change results")
    assert(!hasDedupWindow(e.read("cx")),
      "post-compaction read must skip the dedup window (seq floor)")
    // physical: exactly one surviving row per PK in storage
    assert(spark.read.parquet(e.catalog.dataDir("cx")).count() == 3)

    // a fresh append re-enables the window, overwrite semantics still hold
    // across the compacted base
    e.execute("INSERT INTO cx (t, host, v) VALUES (1704067200000, 'a', 100.0)")
    assert(hasDedupWindow(e.read("cx")), "append after compaction needs dedup again")
    assert(snapshot() == Seq(("a", 1704067200000L, 100.0), ("a", 1704070800000L, 2.0),
      ("b", 1704067200000L, 50.0)))
    // second compaction folds the new batch in and drops the window again
    e.compact("cx")
    assert(!hasDedupWindow(e.read("cx")))
    assert(snapshot().exists(_ == ("a", 1704067200000L, 100.0)))
  }

  test("CQ rollup auto-registration: raw SQL served from the rollup, writes invalidate") {
    import graft.influx.InfluxQL
    val e = engine()
    e.execute(
      """CREATE TABLE metrics (
        |    t timestamp NOT NULL, host string TAG, v double,
        |    timestamp KEY(t))
        |ENGINE=Analytic WITH (update_mode='append', enable_ttl='false')""".stripMargin)
    val h = 3600000L; val base = 1704067200000L // 2024-01-01 00:00 UTC
    def ins(ms: Long, host: String, v: Double) = e.execute(
      s"INSERT INTO metrics (t, host, v) VALUES ($ms, '$host', $v)")
    ins(base + 60000, "a", 1.0); ins(base + 120000, "a", 2.0)
    ins(base + h + 60000, "a", 3.0); ins(base + 60000, "b", 10.0)

    val sql = """SELECT host, time_bucket(t, 'PT1H', '+00:00') AS b,
                |  count(v) AS cv, sum(v) AS sv FROM metrics
                |GROUP BY host, time_bucket(t, 'PT1H', '+00:00')""".stripMargin
    def snap() = e.runSql(sql).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime, r.getLong(2),
        r.getDouble(3))).toSet
    def servedFromRollup(q: String): Boolean = {
      import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
      val paths = e.runSql(q).queryExecution.optimizedPlan.collect {
        case l: LogicalRelation => l.relation match {
          case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
          case _ => Nil
        }
      }.flatten
      paths.nonEmpty && paths.forall(_.contains("/metrics_1h/")) }
    def scansRollup(): Boolean = servedFromRollup(sql)
    val baseline = snap() // no registration yet: raw plan
    assert(baseline == Set(
      ("a", base, 2L, 3.0), ("a", base + h, 1L, 3.0), ("b", base, 1L, 10.0)))

    // the CQ materializes AND auto-registers (fill(none), no WHERE)
    InfluxQL.run(e,
      """SELECT count(v) AS cv, sum(v) AS sv, min(v) AS mn, max(v) AS mx
        |INTO metrics_1h FROM metrics GROUP BY time(1h), host fill(none)""".stripMargin)
    assert(scansRollup(), "query must now be served from metrics_1h")
    assert(snap() == baseline, "rollup-served results must equal raw")

    // a raw write invalidates: plan reverts, fresh row visible
    ins(base + 180000, "a", 5.0)
    assert(!scansRollup(), "stale rollup must not serve after a raw write")
    assert(snap() == Set(
      ("a", base, 3L, 8.0), ("a", base + h, 1L, 3.0), ("b", base, 1L, 10.0)))

    // stored CQ re-materialization re-registers with fresh data
    InfluxQL.run(e,
      """CREATE CONTINUOUS QUERY cq1 ON db BEGIN
        |SELECT count(v) AS cv, sum(v) AS sv, min(v) AS mn, max(v) AS mx
        |INTO metrics_1h FROM metrics GROUP BY time(1h), host fill(none)
        |END""".stripMargin)
    InfluxQL.runContinuousQueries(e)
    assert(scansRollup(), "re-materialized CQ must re-register")
    assert(snap() == Set(
      ("a", base, 3L, 8.0), ("a", base + h, 1L, 3.0), ("b", base, 1L, 10.0)))

    // avg(v) is served as sum(sv)/sum(cv) (per-field count — null-correct)
    val avgSql = """SELECT host, time_bucket(t, 'PT1H', '+00:00') AS b,
                   |  round(avg(v), 6) AS av FROM metrics
                   |GROUP BY host, time_bucket(t, 'PT1H', '+00:00')""".stripMargin
    assert(servedFromRollup(avgSql), "avg query must be served from the rollup")
    val avgGot = e.runSql(avgSql).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime, r.getDouble(2))).toSet
    assert(avgGot == Set(
      ("a", base, math.rint(8.0 / 3 * 1e6) / 1e6), ("a", base + h, 3.0),
      ("b", base, 10.0)), s"avg must merge as sum/count: $avgGot")

    // a WHERE-filtered or fill-defaulted INTO must NOT register
    e.invalidateRollups("metrics")
    InfluxQL.run(e,
      """SELECT sum(v) AS sv INTO metrics_bad FROM metrics
        |GROUP BY time(1h), host""".stripMargin) // default fill(null)
    assert(!scansRollup() && snap().nonEmpty)
  }

  test("maintenance tick: pack when fragmented, no-op when healthy, compact when due") {
    val e = engine()
    e.execute(
      """CREATE TABLE mt (host string TAG, v double, t timestamp NOT NULL,
        |  timestamp KEY(t))
        | ENGINE=Analytic WITH (update_mode='overwrite', segment_duration='1h')""".stripMargin)
    def gen = e.catalog.compactionState("mt")._1
    val h0 = 1704067200000L
    (0 until 2).foreach(i =>
      e.execute(s"INSERT INTO mt (t, host, v) VALUES (${h0 + i}, 'a', $i.0)"))
    // healthy (2 files ≤ 2): the tick is a FREE no-op — no generation flip
    val g0 = gen
    assert(e.runMaintenance("mt", minBatches = 99, maxFilesPerSegment = 2)
      == ((false, 0L)))
    assert(gen == g0, "no-op maintenance must not flip the generation")
    // four more appends fragment the segment → the tick bin-packs it
    (2 until 6).foreach(i =>
      e.execute(s"INSERT INTO mt (t, host, v) VALUES (${h0 + i}, 'a', $i.0)"))
    val (c1, rw1) = e.runMaintenance("mt", minBatches = 99, maxFilesPerSegment = 2)
    assert(!c1 && rw1 == 1L, s"($c1, $rw1)")
    assert(gen == g0 + 1)
    assert(e.read("mt").count() == 6)
    // enough pending batches → the tick runs the LOGICAL compaction
    val (c2, rw2) = e.runMaintenance("mt", minBatches = 1, maxFilesPerSegment = 2)
    assert(c2 && rw2 == 0L)
    assert(e.read("mt").count() == 6)
  }

  test("maybeCompact triggers on accumulated batches only") {
    val e = engine()
    e.execute(
      """CREATE TABLE mc (host string TAG, v double, t timestamp NOT NULL,
        |  timestamp KEY(t)) ENGINE=Analytic WITH (update_mode='overwrite')""".stripMargin)
    (0 until 3).foreach(i =>
      e.execute(s"INSERT INTO mc (t, host, v) VALUES (1704067200000, 'a', $i.0)"))
    assert(!e.maybeCompact("mc", minBatches = 4), "3 batches < threshold")
    assert(e.maybeCompact("mc", minBatches = 3), "3 batches >= threshold")
    assert(!e.maybeCompact("mc", minBatches = 1), "nothing pending after compaction")
    val rows = e.read("mc").collect()
    assert(rows.length == 1 && rows(0).getAs[Double]("v") == 2.0)
    // append-mode without TTL never compacts (nothing to rewrite)
    e.execute(
      """CREATE TABLE mca (t timestamp NOT NULL, v double, timestamp KEY(t))
        | ENGINE=Analytic WITH (update_mode='append')""".stripMargin)
    e.execute("INSERT INTO mca (t, v) VALUES (1, 1.0)")
    assert(!e.maybeCompact("mca", minBatches = 1))
  }

  test("appends racing compactions never lose rows (per-table monitor)") {
    import spark.implicits._
    // append-mode + TTL so compaction rewrites (and has a GC to race);
    // unique PKs so every appended row must survive verbatim
    val e = engine()
    e.execute(
      """CREATE TABLE race (ts timestamp NOT NULL, v double, timestamp KEY(ts))
        | ENGINE=Analytic
        | WITH (update_mode='append', enable_ttl='true', ttl='365d')""".stripMargin)
    val base = System.currentTimeMillis()
    val perThread = 4
    val appenders = (0 until 3).map { tid =>
      new Thread(() => {
        (0 until perThread).foreach { i =>
          val rows = (0 until 25).map(j =>
            (new java.sql.Timestamp(base - (tid * 1000000 + i * 1000 + j)), 1.0))
          e.append("race", rows.toDF("ts", "v"))
        }
      })
    }
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val compactor = new Thread(() => {
      while (!stop.get()) e.compact("race")
    })
    compactor.start(); appenders.foreach(_.start())
    appenders.foreach(_.join())
    stop.set(true); compactor.join()
    e.compact("race") // settle: one final rewrite over everything
    assert(e.read("race").count() == 3L * perThread * 25,
      "a batch landed in a garbage-collected generation")
  }

  test("appends racing the first flush never lose rows (flush holds the table monitor)") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    // no segment_duration: the first flush samples, sets it, and re-lays
    // the table out while three writers keep appending (tags, ts) rows
    val e = engine()
    e.execute(
      """CREATE TABLE fr (ts timestamp NOT NULL, host string TAG, v double,
        | timestamp KEY(ts)) ENGINE=Analytic WITH (update_mode='overwrite')""".stripMargin)
    val base = 1700000000000L
    def batch(host: String, i: Int) = (0 until 10).map(j =>
      (new java.sql.Timestamp(base + (i * 10 + j) * 10000L), host, j.toDouble))
    val acked = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    def write(host: String, i: Int): Unit = {
      val rows = batch(host, i)
      e.append("fr", rows.toDF("ts", "host", "v"))
      rows.foreach(r => acked.add((host, r._1.getTime)))
    }
    write("seed", 0)
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val started = new java.util.concurrent.CountDownLatch(3)
    val writers = (0 until 3).map { w =>
      new Thread(() => try {
        (0 until 8).foreach { i => write(s"h$w", i); if (i == 0) started.countDown() }
      } catch { case t: Throwable => failure.set(t); started.countDown() })
    }
    writers.foreach(_.start())
    started.await()
    e.flush("fr")
    writers.foreach(_.join())
    Option(failure.get()).foreach(t => fail("a writer failed", t))
    assert(e.catalog.get("fr").options.segmentDuration.nonEmpty)
    val got = e.read("fr").select(col("host"), unix_millis(col("ts")))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val lost = acked.asScala.toSet -- got
    assert(lost.size == 0, s"of ${acked.size} acknowledged rows, e.g. ${lost.take(3)}")
  }

  test("DROP TABLE clears GC timestamps: a recreated table keeps its grace") {
    val ddl =
      """CREATE TABLE rc (ts timestamp NOT NULL, v double, timestamp KEY(ts))
        | ENGINE=Analytic WITH (update_mode='overwrite')""".stripMargin
    val e = engine()
    // the first incarnation leaves supersession times that are long past
    // any grace by the time the second one compacts
    e.genGraceMs = 50
    e.execute(ddl)
    (1 to 3).foreach { i =>
      e.execute(s"INSERT INTO rc (ts, v) VALUES ($i, 1.0)"); e.compact("rc")
    }
    Thread.sleep(100)
    e.execute("DROP TABLE rc")
    e.genGraceMs = 60000
    e.execute(ddl)
    val gen0 = new java.io.File(e.catalog.genDataDir("rc", 0))
    (1 to 2).foreach { i =>
      e.execute(s"INSERT INTO rc (ts, v) VALUES ($i, 2.0)"); e.compact("rc")
    }
    assert(gen0.exists(), "gen 0 of the new table must survive its grace period")
    e.genGraceMs = 0
    e.execute("INSERT INTO rc (ts, v) VALUES (3, 2.0)"); e.compact("rc")
    assert(!gen0.exists(), "gen 0 must be GC'd once its grace has passed")
    assert(e.read("rc").count() == 3)
  }

  test("property: overwrite read == last-write-wins under random batches + compactions") {
    // randomized (seeded, deterministic) equivalence against a model: any
    // interleaving of multi-row inserts, duplicate PKs, and compactions
    // must read back exactly the last written value per (host, ts) —
    // SURVEY §5's dedup property check
    val rnd = new scala.util.Random(20260812L)
    val e = engine()
    for (trial <- 0 until 3) {
      val t = s"pd$trial"
      e.execute(
        s"""CREATE TABLE $t (host string TAG, v double, ts timestamp NOT NULL,
           |  timestamp KEY(ts))
           |ENGINE=Analytic WITH (update_mode='overwrite', segment_duration='1h')""".stripMargin)
      val hosts = Seq("h0", "h1", "h2")
      val times = Seq(1704067200000L, 1704067201000L, 1704070800000L, 1704074400000L)
      val model = scala.collection.mutable.Map.empty[(String, Long), Double]
      for (_ <- 0 until 6) {
        val n = 1 + rnd.nextInt(5)
        val rows = (0 until n).map { _ =>
          val h = hosts(rnd.nextInt(hosts.size))
          val ts = times(rnd.nextInt(times.size))
          val v = (rnd.nextInt(1000) + 1).toDouble
          (h, ts, v)
        }
        // within one INSERT later rows win (__subseq ordering), so the
        // model applies them in statement order too
        rows.foreach { case (h, ts, v) => model((h, ts)) = v }
        e.execute(s"INSERT INTO $t (host, ts, v) VALUES " +
          rows.map { case (h, ts, v) => s"('$h', $ts, $v)" }.mkString(", "))
        if (rnd.nextBoolean()) e.compact(t)
      }
      val got = e.read(t).collect()
        .map(r => (r.getAs[String]("host"), r.getAs[java.sql.Timestamp]("ts").getTime) ->
          r.getAs[Double]("v")).toMap
      assert(got == model.toMap, s"trial $trial: got $got want $model")
    }
  }

  test("compaction TTL purge physically drops expired segments and rows") {
    val e = engine()
    e.execute(
      """CREATE TABLE cttl (ts timestamp NOT NULL, v double, timestamp KEY(ts))
        | ENGINE=Analytic
        | WITH (update_mode='append', enable_ttl='true', ttl='7d',
        |       segment_duration='1d')""".stripMargin)
    val now = 1704067200000L // fixed "now" for deterministic horizons
    val old = now - 30L * 86400000L  // 30 days ago: whole segment expired
    val live = now - 86400000L       // 1 day ago: live
    e.execute(s"INSERT INTO cttl (ts, v) VALUES ($old, 1.0), (${old + 1000}, 2.0), ($live, 3.0)")
    val segDirs = () => new java.io.File(e.catalog.dataDir("cttl")).listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("__segment=")).toSeq
    assert(segDirs().size == 2, s"expected 2 segment dirs, got ${segDirs()}")

    val dropped = e.purgeExpiredSegments("cttl", now)
    assert(dropped.size == 1, s"exactly the expired segment drops, got $dropped")
    assert(segDirs().size == 1, "expired segment dir must be physically gone")
    val vs = spark.read.parquet(e.catalog.dataDir("cttl"))
      .select("v").collect().map(_.getDouble(0)).toSeq
    assert(vs == Seq(3.0), s"only live rows remain in storage, got $vs")

    // row-level TTL during full compaction: a stale row INSIDE a live
    // segment is rewritten away
    val e2 = engine()
    e2.execute(
      """CREATE TABLE cttl2 (ts timestamp NOT NULL, v double, timestamp KEY(ts))
        | ENGINE=Analytic WITH (update_mode='append', enable_ttl='true', ttl='1d')""".stripMargin)
    e2.execute(s"INSERT INTO cttl2 (ts, v) VALUES ($now, 1.0), (${now - 3 * 86400000L}, 2.0)")
    assert(spark.read.parquet(e2.catalog.dataDir("cttl2")).count() == 2)
    e2.compact("cttl2", now)
    val vs2 = spark.read.parquet(e2.catalog.dataDir("cttl2"))
      .select("v").collect().map(_.getDouble(0)).toSeq
    assert(vs2 == Seq(1.0), s"expired row must be physically rewritten away, got $vs2")
  }

  test("OPTIMIZE TABLE ... ZORDER BY: layout rewrite preserves rows, tightens both dims") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val e = engine()
    e.execute(
      """CREATE TABLE zt (ts timestamp NOT NULL, x double, y double,
        |  timestamp KEY(ts)) ENGINE=Analytic WITH (update_mode='append')""".stripMargin)
    val base = 1704067200000L
    val rows = (0 until 20000).map { i =>
      (new java.sql.Timestamp(base + i),
        (i * 2654435761L % 10007L).toDouble, (i * 40503L % 9973L).toDouble)
    }.toDF("ts", "x", "y")
    e.append("zt", rows)
    val sumBefore = e.read("zt").agg(sum("x"), sum("y"), count(lit(1))).head()

    // parser surface incl. the optional TABLE keyword and column list
    assert(graft.ddl.DdlParser.parse("OPTIMIZE zt ZORDER BY (x, y)") ==
      graft.ddl.OptimizeTable("zt", Seq("x", "y")))
    assert(graft.ddl.DdlParser.parse("OPTIMIZE TABLE zt") ==
      graft.ddl.OptimizeTable("zt", Nil))

    // AQE would coalesce the tiny range shuffle to one file; pin it off so
    // the span assertion sees the multi-file layout a real table gets
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try e.execute("OPTIMIZE TABLE zt ZORDER BY (x, y)")
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")

    assert(e.read("zt").agg(sum("x"), sum("y"), count(lit(1))).head() == sumBefore,
      "optimize must not change table contents")
    val spans = e.read("zt")
      .groupBy(input_file_name().as("f"))
      .agg(((max("x") - min("x")) / 10007.0).as("sx"),
        ((max("y") - min("y")) / 9973.0).as("sy"))
    assert(spans.count() >= 2, "expected a multi-file layout")
    val avgSpans = spans.agg(avg("sx"), avg("sy")).head()
    assert(avgSpans.getDouble(0) < 0.75 && avgSpans.getDouble(1) < 0.75,
      s"both clustered dims must have tight per-file spans, got $avgSpans")

    // unknown column errors cleanly
    val err = intercept[Exception](e.execute("OPTIMIZE zt ZORDER BY (nope)"))
    assert(err.getMessage.contains("nope"))
  }

  test("time travel: snapshots see per-seq versions, compaction bounds history") {
    val e = engine()
    e.execute(
      """CREATE TABLE tt (ts timestamp NOT NULL, k string TAG, v double,
        |  timestamp KEY(ts))
        |ENGINE=Analytic WITH (enable_ttl='false')""".stripMargin)
    import spark.implicits._
    def batch(v: Double) = Seq(
      (new java.sql.Timestamp(1000L), "a", v),
      (new java.sql.Timestamp(2000L), "b", v)
    ).toDF("ts", "k", "v")
    e.append("tt", batch(1.0))   // seq 0
    e.append("tt", batch(2.0))   // seq 1: overwrites both keys
    assert(e.currentSeq("tt") == 2L) // next unreserved; newest snapshot is 1

    def vals(df: org.apache.spark.sql.DataFrame): Map[String, Double] =
      df.collect().map(r => r.getAs[String]("k") -> r.getAs[Double]("v")).toMap
    assert(vals(e.readAsOf("tt", 0)) == Map("a" -> 1.0, "b" -> 1.0))
    assert(vals(e.readAsOf("tt", 1)) == Map("a" -> 2.0, "b" -> 2.0))
    // newest snapshot == the live read
    assert(vals(e.readAsOf("tt", e.currentSeq("tt") - 1)) == vals(e.read("tt")))

    // compaction: floor moves to nextSeq (=2); seq-1 snapshot (= floor-1,
    // the compacted state itself) stays servable, older history is gone
    e.compact("tt")
    assert(vals(e.readAsOf("tt", 1)) == Map("a" -> 2.0, "b" -> 2.0))
    val err = intercept[IllegalArgumentException](e.readAsOf("tt", 0))
    assert(err.getMessage.contains("compaction floor"))

    // post-compaction appends version on top of the preserved seqs
    e.append("tt", batch(3.0))   // seq 2
    assert(vals(e.readAsOf("tt", 1)) == Map("a" -> 2.0, "b" -> 2.0))
    assert(vals(e.readAsOf("tt", 2)) == Map("a" -> 3.0, "b" -> 3.0))
  }

  test("time travel on append tables filters batches, never dedups") {
    val e = engine()
    e.execute(
      """CREATE TABLE ta (ts timestamp NOT NULL, k string TAG, v double,
        |  timestamp KEY(ts))
        |ENGINE=Analytic WITH (update_mode='append', enable_ttl='false')""".stripMargin)
    import spark.implicits._
    def one(v: Double) =
      Seq((new java.sql.Timestamp(1000L), "a", v)).toDF("ts", "k", "v")
    e.append("ta", one(1.0))
    e.append("ta", one(2.0))
    assert(e.readAsOf("ta", 0).count() == 1)
    assert(e.readAsOf("ta", 1).count() == 2)
  }

  test("incremental rollup refresh: touched-bucket recompute, late-data supersede, no-op") {
    val e = engine()
    e.execute(
      """CREATE TABLE irr (ts timestamp NOT NULL, k string TAG, v double,
        |  timestamp KEY(ts))
        |ENGINE=Analytic WITH (update_mode='append', enable_ttl='false')""".stripMargin)
    e.execute(
      """CREATE TABLE irr_1m (bucket timestamp NOT NULL, k string TAG,
        |  n uint64, sum_milli int64, timestamp KEY(bucket))
        |ENGINE=Analytic WITH (update_mode='overwrite', enable_ttl='false')""".stripMargin)
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def rows(r: Seq[(Long, String, Double)]) =
      r.map { case (s, k, v) => (new java.sql.Timestamp(s * 1000L), k, v) }
        .toDF("ts", "k", "v")
    val aggs = Seq("n" -> count(lit(1)),
      "sum_milli" -> sum(round(col("v") * 1000, 0).cast("long")))
    def rollup(): Map[(Long, String), (Long, Long)] =
      e.read("irr_1m")
        .select(col("bucket"), col("k"), col("n").cast("long"), col("sum_milli"))
        .collect().map(r => (r.getTimestamp(0).getTime / 1000,
          r.getString(1)) -> ((r.getLong(2), r.getLong(3)))).toMap

    // batch 1: two buckets (0-60s, 60-120s)
    e.append("irr", rows(Seq((10, "a", 1.0), (20, "a", 2.0), (70, "a", 3.0))))
    val hw1 = e.refreshRollup("irr", "irr_1m", 60L, Seq("k"), aggs, 0L)
    assert(rollup() == Map((0L, "a") -> ((2L, 3000L)), (60L, "a") -> ((1L, 3000L))))

    // batch 2: LATE row into bucket 0 + a new bucket; only those two
    // buckets recompute, bucket 60 keeps its original generation
    e.append("irr", rows(Seq((30, "a", 5.0), (130, "b", 7.0))))
    val hw2 = e.refreshRollup("irr", "irr_1m", 60L, Seq("k"), aggs, hw1)
    assert(rollup() == Map(
      (0L, "a") -> ((3L, 8000L)),   // superseded: 1+2+5
      (60L, "a") -> ((1L, 3000L)),
      (120L, "b") -> ((1L, 7000L))))

    // no delta: refresh is a no-op (same high water, same rollup rows)
    assert(e.refreshRollup("irr", "irr_1m", 60L, Seq("k"), aggs, hw2) == hw2)
    assert(e.read("irr_1m").count() == 3)
  }

  test("range backfill refresh survives deleteWhere (seq cursor cannot)") {
    val e = engine()
    e.execute(
      """CREATE TABLE rbf (ts timestamp NOT NULL, k string TAG, v double,
        |  timestamp KEY(ts))
        |ENGINE=Analytic WITH (update_mode='append', enable_ttl='false')""".stripMargin)
    e.execute(
      """CREATE TABLE rbf_1m (bucket timestamp NOT NULL, k string TAG,
        |  n uint64, sum_milli int64, timestamp KEY(bucket))
        |ENGINE=Analytic WITH (update_mode='overwrite', enable_ttl='false')""".stripMargin)
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val aggs = Seq("n" -> count(lit(1)),
      "sum_milli" -> sum(round(col("v") * 1000, 0).cast("long")))
    e.append("rbf", Seq((10L, "a", 1.0), (20L, "a", 2.0), (70L, "a", 3.0))
      .map { case (s, k, v) => (new java.sql.Timestamp(s * 1000L), k, v) }
      .toDF("ts", "k", "v"))
    e.refreshRollup("rbf", "rbf_1m", 60L, Seq("k"), aggs, 0L)
    // a GDPR-style correction rewrites raw WITHOUT a new ingest seq:
    // the seq-cursor refresh sees nothing, the rollup is silently stale
    e.deleteWhere("rbf", col("v") === 2.0)
    val hw = e.currentSeq("rbf")
    assert(e.refreshRollup("rbf", "rbf_1m", 60L, Seq("k"), aggs, hw) == hw)
    // forced range backfill over bucket 0 recomputes from surviving rows
    e.refreshRollupRange("rbf", "rbf_1m", 60L, Seq("k"), aggs,
      fromUs = 0L, untilUs = 60000000L)
    val got = e.read("rbf_1m")
      .select(col("bucket"), col("n").cast("long"), col("sum_milli"))
      .collect().map(r => r.getTimestamp(0).getTime / 1000 ->
        ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(0L -> ((1L, 1000L)), 60L -> ((1L, 3000L))), got.toString)
    // backfill of a range whose raw rows were ALL deleted removes the
    // bucket instead of leaving a stale generation
    e.deleteWhere("rbf", col("ts") < new java.sql.Timestamp(60000L))
    e.refreshRollupRange("rbf", "rbf_1m", 60L, Seq("k"), aggs, 0L, 60000000L)
    assert(e.read("rbf_1m").count() == 1)
  }

  test("snapshot diff: added / updated / unchanged per PK across seqs") {
    val e = engine()
    e.execute(
      """CREATE TABLE sd (ts timestamp NOT NULL, k string TAG, v double,
        |  timestamp KEY(ts))
        |ENGINE=Analytic WITH (update_mode='overwrite', enable_ttl='false')""".stripMargin)
    import spark.implicits._
    def df(r: Seq[(Long, String, Double)]) =
      r.map { case (s, k, v) => (new java.sql.Timestamp(s * 1000L), k, v) }
        .toDF("ts", "k", "v")
    e.append("sd", df(Seq((1, "a", 1.0), (2, "b", 2.0))))        // seq 0
    e.append("sd", df(Seq((1, "a", 9.0), (3, "c", 3.0))))        // seq 1
    val got = e.snapshotDiff("sd", 0L, 1L).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime / 1000,
        r.getString(2))).toSet
    assert(got == Set(("a", 1L, "updated"), ("b", 2L, "unchanged"),
      ("c", 3L, "added")), got.toString)
  }

  test("sst metadata report: per-file rows/bytes/ranges, survives compaction") {
    val e = engine()
    e.execute(
      """CREATE TABLE sm (ts timestamp NOT NULL, v double, timestamp KEY(ts))
        | ENGINE=Analytic WITH(segment_duration='2h', enable_ttl='false')""".stripMargin)
    // two appends across two 2h segments -> >= 2 files, 2 ingest seqs
    e.execute("INSERT INTO sm (ts, v) VALUES (0, 1.0), (3600000, 2.0), (7200000, 3.0)")
    e.execute("INSERT INTO sm (ts, v) VALUES (1800000, 4.0)")
    val rep = e.sstMetadata("sm").collect()
    assert(rep.nonEmpty)
    assert(rep.map(_.getAs[Long]("n_rows")).sum == 4L, rep.mkString("; "))
    assert(rep.forall(_.getAs[Long]("bytes") > 0L), "sizes must resolve")
    assert(rep.forall(r => !r.getAs[String]("file").startsWith("/")),
      "files must be table-dir relative")
    assert(rep.map(_.getAs[Long]("segment")).toSet == Set(0L, 1L))
    val seg0 = rep.filter(_.getAs[Long]("segment") == 0L)
    assert(seg0.map(_.getAs[Long]("n_rows")).sum == 3L)
    // seq range covers both ingests before compaction
    assert(rep.map(_.getAs[Long]("min_seq")).min == 0L &&
      rep.map(_.getAs[Long]("max_seq")).max == 1L)
    // compaction rewrites the layout; rows and time ranges are preserved
    e.compact("sm")
    val rep2 = e.sstMetadata("sm").collect()
    assert(rep2.map(_.getAs[Long]("n_rows")).sum == 4L)
    assert(rep2.map(_.getAs[java.sql.Timestamp]("min_ts").getTime).min == 0L)
    assert(rep2.map(_.getAs[java.sql.Timestamp]("max_ts").getTime).max == 7200000L)
    assert(rep2.forall(_.getAs[Long]("bytes") > 0L))
  }
}
