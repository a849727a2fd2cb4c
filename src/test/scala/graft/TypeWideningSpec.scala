package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftbridge.GraftBridge

import graft.merge.TxTable

/** Type-widening schema evolution (`ALTER COLUMN ... TYPE`, the
  * Delta/Iceberg widening contract): one metadata-only property commit
  * declares the new type; old files' values read cast UP (exact-value
  * moves only), new files land wide, time travel below the ALTER keeps
  * the narrow type, and file-skipping envelopes stay correct because the
  * comparison space (BigDecimal) is widening-invariant. */
class TypeWideningSpec extends SparkTestBase {
  import spark.implicits._

  test("int->long: old files read as long, new long files union, time travel keeps int") {
    val dir = tmpDir("tw-int")
    TxTable.append(spark, dir, (1 to 10).map(i => (i, s"n$i")).toDF("x", "name"))
    val vNarrow = TxTable.headVersion(spark, dir).get
    assert(TxTable.read(spark, dir).get.schema("x").dataType == IntegerType)

    TxTable.alterColumnType(spark, dir, "x", LongType)
    val t = TxTable.read(spark, dir).get
    assert(t.schema("x").dataType == LongType)
    assert(t.select(sum("x")).as[Long].head() == 55L)

    // a batch carrying the widened type (incl. values beyond int range)
    TxTable.append(spark, dir,
      Seq((5000000000L, "big")).toDF("x", "name"))
    val t2 = TxTable.read(spark, dir).get
    assert(t2.schema("x").dataType == LongType && t2.count() == 11)
    assert(t2.select(max("x")).as[Long].head() == 5000000000L)
    // a late batch still carrying the OLD narrow type reads fine too
    TxTable.append(spark, dir, Seq((99, "late")).toDF("x", "name"))
    assert(TxTable.read(spark, dir).get.filter(col("x") === 99L).count() == 1)

    // time travel below the ALTER reads the original narrow type
    assert(TxTable.read(spark, dir, asOf = Some(vNarrow)).get
      .schema("x").dataType == IntegerType)
  }

  test("float->double and decimal precision growth; refusals outside the lattice") {
    val dir = tmpDir("tw-fd")
    TxTable.append(spark, dir,
      Seq((1, 1.5f, BigDecimal("12.34"))).toDF("k", "f", "d")
        .select(col("k"), col("f"), col("d").cast(DecimalType(10, 2)).as("d")))
    TxTable.alterColumnType(spark, dir, "f", DoubleType)
    TxTable.alterColumnType(spark, dir, "d", DecimalType(16, 2))
    val t = TxTable.read(spark, dir).get
    assert(t.schema("f").dataType == DoubleType)
    assert(t.schema("d").dataType == DecimalType(16, 2))
    assert(t.select(sum("f")).head.getDouble(0) == 1.5)

    // refusals: narrowing, cross-family, scale change, partition column
    def refused(op: => Unit, frag: String): Unit = {
      val e = intercept[Exception](op)
      assert(e.getMessage.contains(frag), e.getMessage)
    }
    refused(TxTable.alterColumnType(spark, dir, "f", FloatType),
      "not supported")
    refused(TxTable.alterColumnType(spark, dir, "k", StringType),
      "not supported")
    refused(TxTable.alterColumnType(spark, dir, "d", DecimalType(18, 4)),
      "not supported")
    val pdir = tmpDir("tw-part")
    TxTable.append(spark, pdir,
      Seq((1, 10L)).toDF("b", "v"), partitionCols = Seq("b"))
    refused(TxTable.alterColumnType(spark, pdir, "b", LongType),
      "partition column")
  }

  test("stats skipping stays correct across the widen (envelopes compare in the widened space)") {
    val dir = tmpDir("tw-skip")
    // two int files with disjoint ranges, then widen, then a long file
    TxTable.append(spark, dir, (1 to 100).map(i => (i, i)).toDF("x", "p")
      .coalesce(1))
    TxTable.append(spark, dir, (1000 to 1100).map(i => (i, i)).toDF("x", "p")
      .coalesce(1))
    TxTable.alterColumnType(spark, dir, "x", LongType)
    TxTable.append(spark, dir,
      Seq((6000000000L, 7)).toDF("x", "p").coalesce(1))
    // point probe into the first int file: prunes the other two
    assert(TxTable.skippingStats(spark, dir, "x",
      BigDecimal(50), BigDecimal(50)) == (1, 3))
    // beyond-int probe hits only the long file
    assert(TxTable.skippingStats(spark, dir, "x",
      BigDecimal(5000000000L), BigDecimal(7000000000L)) == (1, 3))
    val hit = TxTable.readSkipping(spark, dir, "x",
      BigDecimal(1000), BigDecimal(1005)).get
    assert(hit.schema("x").dataType == LongType)
    assert(hit.filter(col("x") >= 1000L && col("x") <= 1005L).count() == 6)
  }

  test("streaming read of a widened table lifts old files to the widened type") {
    val dir = tmpDir("tw-stream")
    TxTable.append(spark, dir, (1 to 10).map(i => Tuple1(i)).toDF("x")
      .select(col("x").cast("int").as("x")))
    TxTable.alterColumnType(spark, dir, "x", LongType)
    TxTable.append(spark, dir, Seq(Tuple1(5000000000L)).toDF("x"))
    val ck = tmpDir("tw-stream-ck")
    val q = spark.readStream.format("graft").load(dir)
      .writeStream.format("memory").queryName("tw_stream_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", ck).start()
    require(q.awaitTermination(120000), "stream did not drain")
    val out = spark.sql("SELECT count(*), max(x) FROM tw_stream_out").head
    assert(out.getLong(0) == 11L && out.getLong(1) == 5000000000L, out)
  }

  test("a mid-stream widen fails loudly; the restarted stream resumes from the checkpoint with the new schema") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = tmpDir("tw-midstream")
    val ck = tmpDir("tw-midstream-ck")
    TxTable.append(spark, dir, (1 to 5).map(Tuple1(_)).toDF("x")
      .select(col("x").cast("int").as("x")))
    // stream 1 drains the int table and stops — its schema froze as INT
    val dst = tmpDir("tw-midstream-dst")
    val q1 = spark.readStream.format("graft").load(dir)
      .writeStream.format("graft").option("path", dst)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ck).start()
    require(q1.awaitTermination(120000))
    assert(TxTable.read(spark, dst).get.count() == 5)
    // widen + append beyond-int32 data, then resume the SAME checkpoint
    // with the frozen INT schema forced back in: the guard must fail
    // loudly with restart guidance, not feed long rows into an int plan
    // a source constructed NOW freezes the INT schema…
    val narrow = new graft.sql.GraftStreamSource(spark, dir,
      cdc = false, startingVersion = 0L, maxVersionsPerBatch = None,
      ignoreDeletes = false)
    assert(narrow.schema("x").dataType == IntegerType)
    // …then the table widens underneath it
    TxTable.alterColumnType(spark, dir, "x", LongType)
    TxTable.append(spark, dir, Seq(Tuple1(5000000000L)).toDF("x"))
    val e = intercept[Exception] {
      narrow.getBatch(None,
        org.apache.spark.sql.execution.streaming.runtime.LongOffset(
          TxTable.headVersion(spark, dir).get)).collect()
    }
    assert(e.getMessage.contains("restart the stream"), e.getMessage)
    // the DOWNSTREAM table must widen too before the restarted stream
    // appends long batches beside its int files — the realistic flow for
    // a widened upstream, and the engine enforces it loudly otherwise
    TxTable.alterColumnType(spark, dst, "x", LongType)
    // a RESTARTED stream (fresh source, widened schema) resumes from the
    // same checkpoint and drains exactly the post-widen commits
    val q2 = spark.readStream.format("graft").load(dir)
      .writeStream.format("graft").option("path", dst)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ck).start()
    require(q2.awaitTermination(120000))
    val out = TxTable.read(spark, dst).get
      .agg(count(lit(1)), max(col("x"))).head
    assert(out.getLong(0) == 6L && out.getLong(1) == 5000000000L, out)
  }

  test("interplay: widen + rename + deletion vectors + purge + compaction compose") {
    val dir = tmpDir("tw-mix")
    TxTable.append(spark, dir,
      (1 to 20).map(i => (i, s"n$i")).toDF("x", "name").coalesce(1))
    // widen, then RENAME the widened column (mapping over widening)
    TxTable.alterColumnType(spark, dir, "x", LongType)
    TxTable.renameColumn(spark, dir, "x", "key")
    val t0 = TxTable.read(spark, dir).get
    assert(t0.schema("key").dataType == LongType)
    // write under the NEW name with the WIDE type — lands on the physical
    // column; a merge-on-read delete then spans old int32 and new int64
    // files in one predicate over the logical name
    TxTable.append(spark, dir,
      Seq((5000000000L, "big"), (21L, "n21")).toDF("key", "name"))
    val st = TxTable.deleteWhereDV(spark, dir,
      col("key") % 2 === 0 && col("key") < 100)
    assert(st.matchedRows == 10, st) // evens of 1..21; the < 100 guard excludes the big key
    val liveKeys = TxTable.read(spark, dir).get
      .select(col("key")).as[Long].collect().sorted.toSeq
    assert(liveKeys == ((1L to 21L).filter(_ % 2 == 1) :+ 5000000000L).sorted)
    // purge folds the vectors; compaction packs; rows identical after both
    TxTable.purgeDvs(spark, dir)
    TxTable.compactSmallFiles(spark, dir, targetBytes = 1L << 20,
      smallBytes = 1L << 20)
    assert(!TxTable.hasLiveDvs(spark, dir))
    assert(TxTable.read(spark, dir).get
      .select(col("key")).as[Long].collect().sorted.toSeq == liveKeys)
    // time travel below EVERYTHING still reads the original int schema
    assert(TxTable.read(spark, dir, asOf = Some(1L)).get
      .schema("x").dataType == IntegerType)
  }

  test("SQL front door: ALTER COLUMN TYPE, stock scan reads mixed files, widened aggregates") {
    val lakeRoot = tmpDir("tw-lake")
    val ext = GraftBridge.withExtensions(spark, new GraftExtensions()(_))
    ext.conf.set("spark.sql.catalog.graft", "graft.sql.GraftCatalog")
    ext.conf.set("spark.sql.catalog.graft.root", lakeRoot)
    ext.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    ext.sql("DROP TABLE IF EXISTS graft.db.tw")
    ext.sql("CREATE TABLE graft.db.tw AS " +
      "SELECT cast(id AS INT) AS x, concat('n', id) AS name FROM range(50)")
    ext.sql("ALTER TABLE graft.db.tw ALTER COLUMN x TYPE BIGINT")
    assert(ext.table("graft.db.tw").schema("x").dataType == LongType)
    // old int files + a new beyond-int-range batch through ONE SQL scan
    ext.sql("INSERT INTO graft.db.tw VALUES (5000000000, 'big')")
    assert(ext.sql("SELECT sum(x) FROM graft.db.tw").head.getLong(0) ==
      (0L until 50L).sum + 5000000000L)
    assert(ext.sql("SELECT count(*) FROM graft.db.tw WHERE x = 7")
      .head.getLong(0) == 1)
    // DESCRIBE shows the widened type; the pre-ALTER snapshot keeps INT
    assert(ext.sql("SELECT * FROM graft.db.tw VERSION AS OF 1")
      .schema("x").dataType == IntegerType)
    // format("graft") read agrees
    assert(ext.read.format("graft").load(s"$lakeRoot/db/tw")
      .schema("x").dataType == LongType)
  }

  test("widened types survive TRUNCATE: no flip-flop back to the narrow declaration") {
    val dir = tmpDir("tw-trunc")
    TxTable.append(spark, dir, (1 to 5).map(i => (i, s"n$i")).toDF("x", "name"))
    // an ADD COLUMNS-declared column, later widened — the regression case:
    // the declaration records INT, the widening is a separate property, and
    // every empty-table schema path must see the two composed
    TxTable.addColumns(spark, dir,
      Seq(StructField("extra", IntegerType, nullable = true)))
    TxTable.alterColumnType(spark, dir, "extra", LongType)
    TxTable.alterColumnType(spark, dir, "x", LongType)
    assert(TxTable.read(spark, dir).get.schema("extra").dataType == LongType)

    TxTable.truncate(spark, dir)
    val sch = TxTable.read(spark, dir).get.schema
    assert(sch("x").dataType == LongType, sch)
    assert(sch("extra").dataType == LongType,
      s"ADD COLUMNS declaration reverted the widening across TRUNCATE: $sch")

    // a second TRUNCATE while already empty re-declares from the (fixed)
    // empty-live scanSchema — still wide
    TxTable.truncate(spark, dir)
    assert(TxTable.read(spark, dir).get.schema("extra").dataType == LongType)

    // post-truncate INSERT of beyond-int32 values plans against the wide
    // type end to end
    TxTable.append(spark, dir,
      Seq((5000000000L, "big", 6000000000L)).toDF("x", "name", "extra"))
    val t = TxTable.read(spark, dir).get
    assert(t.select(max("extra")).head.getLong(0) == 6000000000L)
    assert(t.select(max("x")).head.getLong(0) == 5000000000L)
  }
}
