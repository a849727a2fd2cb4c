package graft.sql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.unsafe.types.UTF8String

import graft.merge.TxTable

/** Table-valued functions for ad-hoc lakehouse access from SQL text —
  * the operational affordances a Delta user gets from `DESCRIBE HISTORY`
  * and `table_changes(...)`, usable without mounting a catalog:
  *
  *  - `graft_table('<dir>' [, version | 'timestamp'])` — snapshot
  *    (optionally time-travelled, by commit version or timestamp text)
  *    read of a TxTable path, planned through [[GraftFileIndex]]
  *    (partition pruning + stats skipping intact);
  *  - `graft_changes('<dir>', after [, until])` — the CDC feed between
  *    versions ([[TxTable.readChanges]]), `_change_type` /
  *    `_commit_version` tagged; empty result when nothing changed;
  *  - `graft_history('<dir>')` — one audit row per advertised commit;
  *  - `graft_files('<dir>' [, version])` — the live file layout (path,
  *    partition fragment, bytes, per-column min/max envelopes): the
  *    observability feed behind compaction / z-order decisions.
  *    Driver-side O(live files), same contract as the planner's listing;
  *  - `graft_detail('<dir>')` — the one-row DESCRIBE DETAIL summary:
  *    layout totals plus the maintain() health probes (DV read-tax
  *    fraction, unclustered-file count, commits since ANALYZE) — the
  *    operator's dashboard for the self-driving loop.
  *
  * Arguments must be literals (the plan is built at resolution time).
  * Registered by [[graft.GraftExtensions]]. */
object GraftTableFunctions {

  private def spark: SparkSession = SparkSession.active

  private def arg(e: Expression, fn: String, what: String): Any = {
    require(e.foldable, s"$fn: $what must be a literal, got ${e.sql}")
    e.eval()
  }

  private def strArg(e: Expression, fn: String, what: String): String =
    arg(e, fn, what) match {
      case s: UTF8String => s.toString
      case other => throw new IllegalArgumentException(
        s"$fn: $what must be a string literal, got $other")
    }

  private def longArg(e: Expression, fn: String, what: String): Long =
    arg(e, fn, what) match {
      case i: Int  => i.toLong
      case l: Long => l
      case other => throw new IllegalArgumentException(
        s"$fn: $what must be an integer literal, got $other")
    }

  val all: Seq[(String, Seq[Expression] => LogicalPlan)] = Seq(
    "graft_table" -> { args =>
      require(args.size == 1 || args.size == 2,
        "graft_table(dir [, version | 'timestamp'])")
      val dir = strArg(args.head, "graft_table", "dir")
      require(TxTable.exists(spark, dir), s"no TxTable commit log at $dir")
      // integer second arg = commit version; string = timestamp text
      // (the reader's timestampAsOf grammar), resolved to the newest
      // commit at or before the instant
      val asOf = args.lift(1).map { e =>
        arg(e, "graft_table", "version/timestamp") match {
          case i: Int  => i.toLong
          case l: Long => l
          case s: UTF8String =>
            val t = s.toString.trim
            val micros =
              if (t.matches("-?\\d+")) t.toLong * 1000L // epoch millis
              else java.sql.Timestamp.valueOf(t).getTime * 1000L
            TxTable.versionAtTimestampMicros(spark, dir, micros).getOrElse(
              throw new IllegalArgumentException(
                s"graft_table: '$t' predates every commit of $dir"))
          case other => throw new IllegalArgumentException(
            "graft_table: second argument must be an integer version or " +
              s"a timestamp string literal, got $other")
        }
      }
      GraftBridge.analyzed(GraftSql.dataFrame(spark, dir, asOf))
    },
    "graft_changes" -> { args =>
      require(args.size == 2 || args.size == 3,
        "graft_changes(dir, afterVersion [, untilVersion])")
      val dir = strArg(args.head, "graft_changes", "dir")
      val after = longArg(args(1), "graft_changes", "afterVersion")
      val until = args.lift(2).map(longArg(_, "graft_changes", "untilVersion"))
      val df = TxTable.readChanges(spark, dir, after, until).getOrElse(
        spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          GraftStreamSource.schemaFor(spark, dir, cdc = true)))
      GraftBridge.analyzed(df)
    },
    "graft_history" -> { args =>
      require(args.size == 1, "graft_history(dir)")
      GraftBridge.analyzed(
        TxTable.history(spark, strArg(args.head, "graft_history", "dir")))
    },
    "graft_files" -> { args =>
      require(args.size == 1 || args.size == 2,
        "graft_files(dir [, version])")
      val dir = strArg(args.head, "graft_files", "dir")
      require(TxTable.exists(spark, dir), s"no TxTable commit log at $dir")
      val asOf = args.lift(1).map(longArg(_, "graft_files", "version"))
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val rows = TxTable.liveEntriesForSql(spark, dir, asOf).map { e =>
        val len = fs.getFileStatus(
          new org.apache.hadoop.fs.Path(p, e.path)).getLen
        (e.path, e.part.orNull, len,
          e.stats.map { case (c, cs) => c -> cs.min },
          e.stats.map { case (c, cs) => c -> cs.max },
          e.dv.map(_.dir).orNull, e.dv.map(_.deleted).getOrElse(0L))
      }
      val sq = spark.sqlContext; import sq.implicits._
      GraftBridge.analyzed(
        rows.toDF("path", "partition", "bytes", "stat_min", "stat_max",
          "dv_path", "n_deleted"))
    },
    // graft_detail('<dir>') — ONE summary row (the Delta DESCRIBE DETAIL
    // shape): layout totals plus the self-driving-maintenance health
    // probes as data — the DV read-tax fraction (share of live rows that
    // pay the anti-join), the unclustered-file count behind the
    // incremental z-order trigger, and commits since the last ANALYZE
    // (-1 = never analyzed, so no staleness obligation exists). All
    // metadata: file statuses + parquet footers, zero data pages.
    "graft_detail" -> { args =>
      require(args.size == 1, "graft_detail(dir)")
      val dir = strArg(args.head, "graft_detail", "dir")
      require(TxTable.exists(spark, dir), s"no TxTable commit log at $dir")
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val conf = spark.sparkContext.hadoopConfiguration
      val entries = TxTable.liveEntriesForSql(spark, dir, None)
      var liveRows = 0L; var bytes = 0L; var dvLiveRows = 0L; var dvFiles = 0L
      entries.foreach { e =>
        val fp = new org.apache.hadoop.fs.Path(p, e.path)
        bytes += fs.getFileStatus(fp).getLen
        val live = TxTable.parquetRowCount(conf, fp) -
          e.dv.map(_.deleted).getOrElse(0L)
        liveRows += live
        if (e.dv.isDefined) { dvFiles += 1; dvLiveRows += live }
      }
      val dvReadTax =
        if (liveRows == 0L) 0.0 else dvLiveRows.toDouble / liveRows
      val zs = graft.ops.Layout.zorderState(spark, dir)
      val unclustered: Long = zs.map { case (v, _) =>
        val clustered: Set[String] =
          if (TxTable.versions(spark, dir).contains(v))
            TxTable.liveRelPaths(spark, dir, Some(v)).toSet
          else Set.empty
        TxTable.liveRelPaths(spark, dir).count(!clustered.contains(_)).toLong
      }.getOrElse(0L)
      val row = (dir, entries.size.toLong, bytes, liveRows,
        GraftSql.partitionColumns(spark, dir).mkString(","),
        TxTable.headVersion(spark, dir).getOrElse(0L),
        dvFiles, dvReadTax,
        zs.map(_._2.mkString(",")).getOrElse(""), unclustered,
        TxTable.commitsSinceAnalyze(spark, dir).map(_.toLong).getOrElse(-1L),
        // declared layouts + refs: the round-14 surfaces on the same
        // dashboard row (empty string = not declared / none live)
        TxTable.bucketSpec(spark, dir)
          .map { case (n, c) => s"$n:$c" }.getOrElse(""),
        TxTable.generatedSpecs(spark, dir).toSeq.sorted
          .map { case (c, e) => s"$c=$e" }.mkString("; "),
        TxTable.identitySpecs(spark, dir).keys.toSeq.sorted.mkString(","),
        TxTable.columnDefaults(spark, dir).toSeq.sortBy(_._1)
          .collect { case (c, (Some(cur), _)) => s"$c=$cur" }.mkString("; "),
        TxTable.listBranches(spark, dir)
          .map { case (b, v) => s"$b@$v" }.mkString(","),
        TxTable.listTags(spark, dir)
          .map { case (t, v) => s"$t@$v" }.mkString(","))
      val sq = spark.sqlContext; import sq.implicits._
      GraftBridge.analyzed(Seq(row).toDF("location", "num_files",
        "size_bytes", "live_rows", "partition_columns", "last_version",
        "num_dv_files", "dv_read_tax", "zorder_columns",
        "unclustered_files", "commits_since_analyze", "bucket",
        "generated_columns", "identity_columns", "default_columns",
        "branches", "tags"))
    })
}
