package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFns
import graft.operators.{Cleaning, Incremental, MergeOps, Scd}
import graft.sources.TxLog

/** Lakehouse-lifecycle query surface: the maintenance operators COMPOSED
  * end-to-end (q89) and the transactional table layer read through its
  * snapshot/time-travel API (q90/q91), each hash-checked against a
  * from-scratch DuckDB recompute over the raw tables.
  *
  * Parity rules follow queries/Core.scala: money in DECIMAL on both
  * sides, counts BIGINT, exact decimal sums cast to double, averages
  * derived as sum/count.
  */
object Lakehouse {

  private def dec2(c: Column): Column = c.cast("decimal(12,2)")
  private def r2d(c: Column): Column = round(c, 2).cast("double")

  /** Fresh single-use table root under the system tmp dir. The returned
    * DataFrames are lazy — the table must outlive the query function —
    * so cleanup happens at JVM exit, not here: every created dir is
    * tracked and one shutdown hook deletes them all (a Bench run invokes
    * each tx query 4×; without cleanup each run would strand several
    * full copies of the orders table in /tmp).
    */
  private val tmpDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      tmpDirs.forEach { root =>
        try {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(root).iterator().asScala.toSeq
            .sortBy(-_.getNameCount).foreach(p =>
              try java.nio.file.Files.deleteIfExists(p)
              catch { case _: java.io.IOException => () })
        } catch { case _: java.io.IOException => () }
      }))
  }

  private[queries] def tmpTable(tag: String): String = {
    val root = Files.createTempDirectory(s"graft-$tag")
    tmpDirs.add(root)
    root.resolve("t").toString
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q89_lakehouse_pipeline" -> ((s, dir) => {
      // The three maintenance operators composed as one nightly run —
      // proving they compose, not just run side-by-side:
      //   1. cdcApply folds the latest order per customer into the
      //      customer snapshot (finalized orders delete the key);
      //   2. scd2 versions the SURVIVING customers' balance history from
      //      their orders (the dimension is built from step 1's output);
      //   3. Incremental state+delta folds the version history into
      //      per-(is_current, year) mergeable aggregates, split at
      //      1997-01-01 exactly as a backfill+increment run would be.
      // The oracle recomputes the whole chain from scratch in SQL —
      // hash equality proves fold(state, delta) == recompute through
      // the entire composition.
      val snap = Tables.customer(s, dir).select(
        col("c_custkey"), dec2(col("c_acctbal")).cast("double").as("bal"))
      val chg = Tables.orders(s, dir).select(
        col("o_custkey").as("c_custkey"),
        dec2(col("o_totalprice")).cast("double").as("bal"),
        when(col("o_orderstatus") === "F", "D").otherwise("U").as("op"),
        col("o_orderdate"), col("o_orderkey"))
      val cur = MergeOps.cdcApply(snap, chg,
        keys = Seq("c_custkey"),
        ordering = Seq(col("o_orderdate").desc, col("o_orderkey").desc),
        opCol = "op")

      val surviving = cur.select(col("c_custkey"), col("bal").as("cur_bal"))
      val chg2 = Tables.orders(s, dir)
        .join(surviving, col("o_custkey") === surviving("c_custkey"))
        .select(surviving("c_custkey"),
          dec2(col("o_totalprice")).cast("double").as("bal"),
          col("o_orderdate"), col("o_orderkey"))
      val dim = Scd.scd2(
        surviving.select(col("c_custkey"), col("cur_bal").as("bal")),
        lit("1995-01-01"),
        chg2, col("o_orderdate"),
        key = "c_custkey", attrs = Seq("bal"), tieBreak = col("o_orderkey"))

      val versions = dim.select(col("is_current"),
        year(col("eff_from")).cast("int").as("eff_year"),
        col("bal"), col("eff_from"))
      val cut = col("eff_from") < lit("1997-01-01").cast("date")
      val state = Incremental.aggState(
        versions.filter(cut), Seq("is_current", "eff_year"), col("bal"))
      val delta = Incremental.aggState(
        versions.filter(!cut), Seq("is_current", "eff_year"), col("bal"))
      Incremental.withAvg(
          Incremental.merge(state, delta, Seq("is_current", "eff_year")))
        .select(col("is_current"), col("eff_year"), col("n"),
          col("sum_v").cast("double").as("sum_v"),
          col("min_v").cast("double").as("min_v"),
          col("max_v").cast("double").as("max_v"),
          col("avg_v"))
    }),

    "q90_tx_snapshot" -> ((s, dir) => {
      // Transactional publish + snapshot read (sources/TxLog scaladoc):
      // half of orders committed via overwrite, the other half appended,
      // then read back THROUGH the manifest. Hash equality with a
      // direct full-table aggregate proves the snapshot is exactly the
      // committed rows — no file lost to the atomic-swap protocol, none
      // double-counted across the two commits.
      val t = tmpTable("tx-q90")
      val orders = Tables.orders(s, dir)
      TxLog.overwrite(orders.filter(col("o_orderkey") % 2 === 0), t)
      TxLog.append(orders.filter(col("o_orderkey") % 2 =!= 0), t)
      TxLog.read(s, t)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          r2d(sum(dec2(col("o_totalprice")))).as("total"))
    }),

    "q91_tx_timetravel" -> ((s, dir) => {
      // Time travel: version 1 holds the full table, version 2 overwrites
      // it with a filtered subset; readAsOf(v1) must still aggregate to
      // the FULL table. A broken time travel (reading latest) would hash
      // the filtered table and mismatch.
      val t = tmpTable("tx-q91")
      val orders = Tables.orders(s, dir)
      val v1 = TxLog.overwrite(orders, t)
      TxLog.overwrite(
        orders.filter(year(col("o_orderdate")) >= 1996), t)
      TxLog.readAsOf(s, t, v1)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          r2d(sum(dec2(col("o_totalprice")))).as("total"))
    }),

    "q93_tx_merge" -> ((s, dir) => {
      // Transactional MERGE INTO (TxLog.merge scaladoc): q76's CDC batch
      // folded into a published customer snapshot under the optimistic
      // CAS commit, then read back THROUGH the log. Hash equality with
      // the q76-style from-scratch recompute proves the transactional
      // path changes nothing about merge semantics — the log adds
      // atomicity, not arithmetic.
      val t = tmpTable("tx-q93")
      val snap = Tables.customer(s, dir).select(
        col("c_custkey"), dec2(col("c_acctbal")).cast("double").as("bal"))
      TxLog.overwrite(snap, t)
      val chg = Tables.orders(s, dir).select(
        col("o_custkey").as("c_custkey"),
        dec2(col("o_totalprice")).cast("double").as("bal"),
        when(col("o_orderstatus") === "F", "D").otherwise("U").as("op"),
        col("o_orderdate"), col("o_orderkey"))
      TxLog.merge(s, t, chg,
        keys = Seq("c_custkey"),
        ordering = Seq(col("o_orderdate").desc, col("o_orderkey").desc),
        opCol = "op")
      TxLog.read(s, t).select(col("c_custkey"), col("bal"))
    }),

    "q94_tx_skipping" -> ((s, dir) => {
      // File-level data skipping (TxLog.readBetween scaladoc): orders
      // range-partitioned on o_orderdate at write time → tight per-file
      // date ranges in the manifest stats → the 1996 read plans only the
      // files whose range intersects the year. The exact filter on top
      // makes skipping a pure file-count optimization, so the oracle is
      // the plain WHERE — hash equality proves no qualifying row lived
      // in a skipped file. (TxLogSpec asserts the pruned file count;
      // here the gate is correctness of the pruned read.)
      val t = tmpTable("tx-q94")
      TxLog.overwrite(
        Tables.orders(s, dir).repartitionByRange(8, col("o_orderdate")), t)
      TxLog.readBetween(s, t, "o_orderdate",
          lo = Some("1996-01-01 00:00:00"), hi = Some("1996-12-31 23:59:59.999"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          r2d(sum(dec2(col("o_totalprice")))).as("total"))
    }),

    "q95_tx_compact" -> ((s, dir) => {
      // Compaction (TxLog.compact scaladoc): the table is published as 16
      // small shards (a streaming-append tail's file debt), bin-packed
      // into target-size files, and read back post-compaction. Hash
      // equality with the full-table aggregate proves packing moved
      // every row exactly once — none lost with the replaced files, none
      // doubled by the rewrite.
      val t = tmpTable("tx-q95")
      TxLog.overwrite(Tables.orders(s, dir).repartition(16), t)
      TxLog.compact(s, t)
      TxLog.read(s, t)
        .groupBy(year(col("o_orderdate")).cast("int").as("o_year"))
        .agg(count(lit(1)).as("n"),
          r2d(sum(dec2(col("o_totalprice")))).as("total"))
    }),

    "q96_tx_delete" -> ((s, dir) => {
      // Copy-on-write retention DELETE (TxLog.delete scaladoc): orders
      // range-partitioned on o_orderdate, then everything before 1995
      // deleted — pre-cutoff files drop from the manifest by row count
      // alone (tier 2, metadata-only), the one boundary file is
      // rewritten, post-cutoff files are never read. Hash equality with
      // the plain WHERE oracle proves all three tiers delete exactly
      // the matching rows and nothing else.
      val t = tmpTable("tx-q96")
      TxLog.overwrite(
        Tables.orders(s, dir).repartitionByRange(8, col("o_orderdate")), t)
      TxLog.delete(s, t,
        col("o_orderdate") < lit("1995-01-01 00:00:00").cast("timestamp"))
      TxLog.read(s, t)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          r2d(sum(dec2(col("o_totalprice")))).as("total"))
    }),

    "q97_tx_update" -> ((s, dir) => {
      // Copy-on-write UPDATE (TxLog.update scaladoc): finalized orders
      // reclassified in place. Date-range partitioning correlates with
      // status, so files with no 'F' rows are never rewritten; the
      // CASE-expression oracle hash-checks that assignments applied to
      // exactly the matching rows and every other value survived the
      // rewrite byte-identical.
      val t = tmpTable("tx-q97")
      TxLog.overwrite(
        Tables.orders(s, dir).repartitionByRange(8, col("o_orderdate")), t)
      TxLog.update(s, t, col("o_orderstatus") === "F",
        Seq("o_orderpriority" -> lit("0-RECLASSIFIED")))
      TxLog.read(s, t)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          r2d(sum(dec2(col("o_totalprice")))).as("total"))
    }),

    "q118_tx_generated" -> ((s, dir) => {
      // GENERATED ALWAYS AS under the oracle gate (TxLog.
      // setGeneratedColumn scaladoc): pre-1997 orders published
      // partitioned by o_year, the column then DECLARED generated from
      // o_orderdate — after which the 1997+ append states ONLY the base
      // columns and the layout column derives (and Hive-partitions)
      // itself. Hash equality of the per-year aggregate with a
      // from-scratch year(o_orderdate) recompute proves the computed
      // values equal the expression on every appended row.
      val t = tmpTable("tx-q118")
      val o = Tables.orders(s, dir)
        .withColumn("o_year", year(col("o_orderdate")).cast("int"))
      TxLog.overwrite(o.filter(col("o_year") < 1997), t,
        partitionBy = Some(Seq("o_year")))
      TxLog.setGeneratedColumn(s, t, "o_year",
        "CAST(year(o_orderdate) AS INT)")
      TxLog.append(
        Tables.orders(s, dir).filter(year(col("o_orderdate")) >= 1997), t)
      TxLog.read(s, t)
        .groupBy(col("o_year"))
        .agg(count(lit(1)).as("n"),
          r2d(sum(dec2(col("o_totalprice")))).as("total"))
    }),

    "q119_tx_drop_column" -> ((s, dir) => {
      // Metadata-only DROP COLUMN under the oracle gate (TxLog.
      // dropColumn scaladoc): even-key orders published WITH a scratch
      // column, the column dropped (no file rewritten — DropColumnSpec
      // pins file identity), then the odd-key half appended under the
      // narrowed schema. The read plans wide old files and narrow new
      // files through ONE stored schema; hash equality with the
      // full-orders recompute proves the dropped column vanished from
      // the result while every row survived across both file
      // generations.
      val t = tmpTable("tx-q119")
      val o = Tables.orders(s, dir)
      TxLog.overwrite(
        o.filter(col("o_orderkey") % 2 === 0)
          .withColumn("o_scratch", col("o_orderkey") % 7), t)
      TxLog.dropColumn(s, t, "o_scratch")
      TxLog.append(o.filter(col("o_orderkey") % 2 =!= 0), t)
      TxLog.read(s, t)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          r2d(sum(dec2(col("o_totalprice")))).as("total"))
    }),

    "q120_tx_identity" -> ((s, dir) => {
      // GENERATED ALWAYS AS IDENTITY under the oracle gate (TxLog.
      // setIdentityColumn scaladoc): the customer table seeds a row_id
      // (existing ids = custkeys), the column is declared identity, and
      // an orders-sized batch appends WITHOUT it — every appended row
      // receives a fresh id from the transactional high-water mark.
      // Which row got which id is layout-dependent, so the gate checks
      // the allocation's INVARIANTS, all exactly predictable: total
      // rows, all-distinct ids, the seed minimum, and the range
      // endpoint max(custkey) + n_appended — contiguity and uniqueness
      // without pinning the permutation (IdentityColumnSpec pins the
      // racing-writers uniqueness separately).
      val t = tmpTable("tx-q120")
      TxLog.overwrite(Tables.customer(s, dir)
        .select(col("c_custkey").as("row_id"),
          col("c_mktsegment").as("seg")), t)
      TxLog.setIdentityColumn(s, t, "row_id")
      TxLog.append(Tables.orders(s, dir)
        .select(col("o_orderpriority").as("seg")), t)
      TxLog.read(s, t).agg(
        count(lit(1)).as("n_rows"),
        countDistinct("row_id").as("n_ids"),
        min("row_id").as("id_min"),
        max("row_id").as("id_max"))
    }),

    "q121_tx_rename" -> ((s, dir) => {
      // Metadata-only RENAME COLUMN under the oracle gate (TxLog.
      // renameColumn scaladoc): even-key orders published, the price
      // column renamed — no file touched (RenameColumnSpec pins file
      // identity and that new files still store the PHYSICAL name) —
      // then the odd-key half appended SPEAKING THE NEW NAME. The read
      // aggregates under the new name across both file generations;
      // hash equality with the full-orders recompute proves the alias
      // boundary loses nothing in either direction.
      val t = tmpTable("tx-q121")
      val o = Tables.orders(s, dir)
      TxLog.overwrite(o.filter(col("o_orderkey") % 2 === 0), t)
      TxLog.renameColumn(s, t, "o_totalprice", "price")
      TxLog.append(o.filter(col("o_orderkey") % 2 =!= 0)
        .withColumnRenamed("o_totalprice", "price"), t)
      TxLog.read(s, t)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          r2d(sum(dec2(col("price")))).as("total"))
    }),

    "q122_pipeline_publish" -> ((s, dir) => {
      // The CAPSTONE composition — the two halves of this engine run as
      // ONE nightly pretraining publish: d14's curation (fingerprint
      // dedup keep-lowest → quality gate → deterministic split) lands
      // in a transactional table PARTITIONED BY split; a second ingest
      // batch (every 3rd doc — overlapping the published set, the
      // re-crawl reality) dedups against the PUBLISHED fingerprints by
      // probing the table through the log (one column-pruned read, cost
      // ∝ index, never re-reading the corpus text) and appends only the
      // genuinely new documents atomically under the inherited layout.
      // The final state reads back through the manifest grouped by
      // split; the oracle recomputes the whole two-batch composition
      // from scratch in SQL — hash equality proves curation, publish,
      // probe, dedup, and partitioned append compose exactly.
      def curate(df: DataFrame): DataFrame = {
        val toks = TextFns.tokens(col("text"))
        val nTok = size(toks)
        val avgTokLen = length(translate(col("text"), " ", "")) / nTok
        val stopRatio = TextFns.tokenCountIn(toks, TextFns.markers("en")) / nTok
        val q = when(nTok >= 20, 1).otherwise(0) +
          when(avgTokLen >= 3.0 && avgTokLen <= 8.0, 1).otherwise(0) +
          when(stopRatio > 0.01, 1).otherwise(0)
        val bucket = (conv(substring(
          md5(col("doc_id").cast("string").cast("binary")), 1, 8),
          16, 10).cast("long") % 100).cast("int")
        Cleaning.dedupLatest(
            df.select(col("doc_id"), col("lang"),
              TextFns.fingerprint(col("text")).as("fp"), q.as("quality_score")),
            Seq("fp"), Seq(col("doc_id")))
          .filter(col("quality_score") >= 2)
          .select(col("doc_id"), col("lang"), col("fp"), col("quality_score"),
            when(bucket < 80, "train").when(bucket < 90, "val")
              .otherwise("test").as("split"))
      }
      val t = tmpTable("tx-q122")
      val docs = Tables.documents(s, dir)
      TxLog.overwrite(curate(docs.filter(col("doc_id") % 3 =!= 0)), t,
        partitionBy = Some(Seq("split")))
      // day 2: the remaining third arrives — overlapping the published
      // set only through DUPLICATE TEXTS (the re-crawl reality), so the
      // fingerprint probe must drop those and append the rest
      val incoming = curate(docs.filter(col("doc_id") % 3 === 0))
      val published = TxLog.read(s, t).select(col("fp")).distinct()
      TxLog.append(incoming.join(published, Seq("fp"), "left_anti"), t)
      TxLog.read(s, t)
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"), countDistinct("fp").as("n_fp"))
    }),

    "q123_merge_into" -> ((s, dir) => {
      // General MERGE INTO (TxLog.mergeInto scaladoc) — every clause kind
      // in one statement, evaluated IN ORDER against a published customer
      // snapshot: heavy customers (>25 orders) are purged (WHEN MATCHED
      // AND … DELETE), big spenders get their balance bumped (second
      // MATCHED clause — order matters: the DELETE saw the row first),
      // synthetic unseen keys INSERT (WHEN NOT MATCHED AND …), and
      // order-less customers are tagged (WHEN NOT MATCHED BY SOURCE
      // UPDATE). The oracle recomputes the merged state as one
      // FULL OUTER JOIN + CASE in DuckDB — hash equality proves clause
      // routing, ordering, and every arithmetic branch.
      val t = tmpTable("tx-q123")
      import graft.sources.TxLog.{MergeDelete, MergeInsert, MergeUpdate}
      TxLog.overwrite(Tables.customer(s, dir).select(
        col("c_custkey").as("k"),
        dec2(col("c_acctbal")).cast("double").as("bal"),
        col("c_mktsegment").as("seg")), t)
      val perCust = Tables.orders(s, dir).groupBy(col("o_custkey").as("k"))
        .agg(r2d(sum(dec2(col("o_totalprice")))).as("total"),
          count(lit(1)).as("cnt"))
      // shifted copies of the busiest keys: guaranteed-unmatched source
      // rows so the NOT MATCHED clause has work (every o_custkey exists
      // in customer)
      val source = perCust.unionByName(perCust.filter(col("cnt") > 28)
        .select((col("k") + 10000000L).as("k"), col("total"), col("cnt")))
      TxLog.mergeInto(s, t, source,
        on = expr("t.k = s.k"),
        matched = Seq(
          MergeDelete(cond = Some(expr("s.cnt > 25"))),
          MergeUpdate(Map("bal" -> expr("t.bal + s.total")),
            cond = Some(expr("s.total > 100000")))),
        notMatched = Seq(
          MergeInsert(Map("k" -> expr("s.k"), "bal" -> expr("s.total"),
            "seg" -> lit("NEW")))),
        notMatchedBySource = Seq(
          MergeUpdate(Map("seg" -> lit("NOORDERS")))))
      TxLog.read(s, t)
    }),

    "q124_sql_dml" -> ((s, dir) => {
      // The SQL DML surface (plans/TxSqlDml scaladoc): DELETE, UPDATE,
      // and a multi-clause MERGE issued as PURE SQL TEXT against a
      // graft-txlog catalog table — each statement planned by Spark's
      // own parser/analyzer and routed into the same transactional
      // implementations the Scala API uses. The oracle recomputes the
      // three-statement lifecycle as chained CTEs — hash equality proves
      // the SQL surface adds a parser, not a second engine.
      val t = tmpTable("tx-q124")
      TxLog.overwrite(Tables.orders(s, dir)
        .repartitionByRange(8, col("o_orderdate")), t)
      val name = "q124_" + java.util.UUID.randomUUID().toString.replace("-", "_")
      s.sql(s"CREATE TABLE $name USING `graft-txlog` OPTIONS (path '$t')")
      s.sql(s"DELETE FROM $name WHERE year(o_orderdate) < 1994")
      s.sql(s"UPDATE $name SET o_orderpriority = '0-RECLASSIFIED' " +
        "WHERE o_orderstatus = 'F'")
      Tables.orders(s, dir).filter(col("o_orderkey") % 97 === 0)
        .select(col("o_orderkey").as("k"))
        .createOrReplaceTempView(s"${name}_chg")
      s.sql(
        s"""MERGE INTO $name t USING ${name}_chg s ON t.o_orderkey = s.k
           |WHEN MATCHED AND t.o_orderstatus = 'O' THEN DELETE
           |WHEN MATCHED THEN UPDATE SET o_orderpriority = '9-MERGED'
           |""".stripMargin)
      // an UNCORRELATED IN (SELECT …) predicate: materialized by the
      // DML layer into a broadcast-sized key list (TxSqlDml scaladoc)
      Tables.orders(s, dir).filter(col("o_orderkey") % 101 === 0)
        .select(col("o_orderkey").as("k"))
        .createOrReplaceTempView(s"${name}_sub")
      s.sql(s"DELETE FROM $name WHERE o_orderkey IN " +
        s"(SELECT k FROM ${name}_sub)")
      s.sql(
        s"""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
           | CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total
           |FROM $name GROUP BY o_orderpriority""".stripMargin)
    }),

    "q116_tx_dv_update" -> ((s, dir) => {
      // q97's reclassification through DELETION-VECTOR update
      // (TxLog.update scaladoc): the matched rows' old positions are
      // vectored out — no touched file rewritten (DeletionVectorSpec
      // pins file identity) — and the post-images land in one fresh
      // write. Same oracle as q97: hash equality proves the DV path and
      // the copy-on-write path are semantically indistinguishable.
      val t = tmpTable("tx-q116")
      TxLog.overwrite(
        Tables.orders(s, dir).repartitionByRange(8, col("o_orderdate")), t)
      TxLog.update(s, t, col("o_orderstatus") === "F",
        Seq("o_orderpriority" -> lit("0-RECLASSIFIED")),
        deletionVectors = true)
      TxLog.read(s, t)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          r2d(sum(dec2(col("o_totalprice")))).as("total"))
    }),

    "q117_tx_dv_merge" -> ((s, dir) => {
      // q93's CDC fold through DELETION-VECTOR merge (TxLog.merge
      // scaladoc): matched keys' old positions vectored out, the latest
      // non-delete change rows appended in one fresh write — no touched
      // file read beyond the key scan, none rewritten; cost O(changes).
      // Same oracle as q93.
      val t = tmpTable("tx-q117")
      val snap = Tables.customer(s, dir).select(
        col("c_custkey"), dec2(col("c_acctbal")).cast("double").as("bal"))
      TxLog.overwrite(snap, t)
      val chg = Tables.orders(s, dir).select(
        col("o_custkey").as("c_custkey"),
        dec2(col("o_totalprice")).cast("double").as("bal"),
        when(col("o_orderstatus") === "F", "D").otherwise("U").as("op"),
        col("o_orderdate"), col("o_orderkey"))
      TxLog.merge(s, t, chg,
        keys = Seq("c_custkey"),
        ordering = Seq(col("o_orderdate").desc, col("o_orderkey").desc),
        opCol = "op", deletionVectors = true)
      TxLog.read(s, t).select(col("c_custkey"), col("bal"))
    }),

    "q98_tx_changefeed" -> ((s, dir) => {
      // Append-only change feed (TxLog.readAppendsSince scaladoc): a
      // base publish followed by two append commits; the feed from the
      // base version returns exactly the appended rows, read from only
      // the appended files. The oracle reconstructs the same rows by
      // filter — hash equality proves the file-set diff IS the row diff.
      val t = tmpTable("tx-q98")
      val o = Tables.orders(s, dir)
      val base = TxLog.overwrite(o.filter(year(col("o_orderdate")) < 1996), t)
      TxLog.append(o.filter(year(col("o_orderdate")) === 1996), t)
      TxLog.append(o.filter(year(col("o_orderdate")) >= 1997), t)
      TxLog.readAppendsSince(s, t, base)
        .groupBy(year(col("o_orderdate")).cast("int").as("o_year"))
        .agg(count(lit(1)).as("n"),
          r2d(sum(dec2(col("o_totalprice")))).as("total"))
    }),

    "q99_sql_tx" -> ((s, dir) => {
      // The transactional layer reached from PURE SQL: graft_tx_read
      // (GraftExtensions TVF) hands the analyzer the same manifest-read
      // plan TxLog.read composes, so a SQL-only user gets snapshot
      // isolation and time travel without touching the Scala API. The
      // full-table oracle hash-checks the SQL path end-to-end.
      val t = tmpTable("tx-q99")
      TxLog.overwrite(Tables.orders(s, dir), t)
      s.sql(
        s"""SELECT o_orderstatus, count(*) AS n,
           |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total
           |FROM graft_tx_read('$t')
           |GROUP BY o_orderstatus""".stripMargin)
    }),

    "q104_format_rw" -> ((s, dir) => {
      // The batch DataFrameReader/Writer + SQL DDL surface over TxLog
      // (sources/TxLogRelation via streaming/TxLogStream createRelation):
      // even-key orders land through the WRITER API (one overwrite
      // commit), the odd half arrives through SQL `INSERT INTO` a
      // `CREATE TABLE ... USING graft-txlog` table (one append commit,
      // through the same optimistic protocol), and the result is read
      // back through `spark.read.format("graft-txlog")`. Hash equality
      // with the plain full-orders aggregate proves the relation
      // surface reads exactly the committed snapshot — no row lost or
      // doubled across the two commit paths, SQL and Scala writers
      // interleaving on one log.
      val t = tmpTable("tx-q104")
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderstatus"),
          dec2(col("o_totalprice")).as("price"))
        .filter(col("o_orderkey") % 2 === 0)
        .write.format("graft-txlog").mode("overwrite").save(t)
      s.sql("DROP TABLE IF EXISTS q104_orders_tx")
      s.sql(s"CREATE TABLE q104_orders_tx USING `graft-txlog` " +
        s"OPTIONS (path '$t')")
      s.sql(
        s"""INSERT INTO q104_orders_tx
           |SELECT o_orderkey, o_orderstatus,
           |  CAST(o_totalprice AS DECIMAL(12,2))
           |FROM parquet.`$dir/orders.parquet`
           |WHERE o_orderkey % 2 <> 0""".stripMargin)
      s.read.format("graft-txlog").load(t)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), r2d(sum(col("price"))).as("total"))
    }),

    "q100_tx_evolve" -> ((s, dir) => {
      // Schema evolution (TxLog.append(mergeSchema) scaladoc): the base
      // publish has no o_orderstatus; a later append ADDS the column
      // without rewriting a single old file — the manifest schema
      // becomes the union and pre-evolution files null-fill it on read.
      // The CASE oracle reconstructs exactly that null-fill, so hash
      // equality proves evolution changed the schema and nothing else.
      val t = tmpTable("tx-q100")
      val o = Tables.orders(s, dir)
      TxLog.overwrite(
        o.filter(year(col("o_orderdate")) < 1996)
          .select(col("o_orderkey"), col("o_totalprice")), t)
      TxLog.append(
        o.filter(year(col("o_orderdate")) >= 1996)
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus")),
        t, mergeSchema = true)
      TxLog.read(s, t)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          r2d(sum(dec2(col("o_totalprice")))).as("total"))
    }),

    "q101_tx_cdf" -> ((s, dir) => {
      // Row-level change data feed (TxLog.readChangeFeed scaladoc): an
      // append, a CDF delete, and a CDF update after a base publish; the
      // feed aggregates per change type. The oracle reconstructs each
      // change set from the raw table — inserts are the appended slice,
      // deletes the pre-images of the matched rows, update pre/post the
      // matched rows before and after the assignment — so hash equality
      // proves the recorded changes are exactly the rows each commit
      // touched, with cost ∝ change volume, never table size.
      val t = tmpTable("tx-q101")
      val o = Tables.orders(s, dir).select(
        col("o_orderkey"), col("o_orderstatus"),
        dec2(col("o_totalprice")).cast("double").as("price"),
        col("o_orderdate"))
      val base = TxLog.overwrite(o.filter(year(col("o_orderdate")) < 1997), t)
      TxLog.append(o.filter(year(col("o_orderdate")) >= 1997), t)
      TxLog.delete(s, t, col("o_orderstatus") === "F", changeFeed = true)
      TxLog.update(s, t, col("o_orderstatus") === "P",
        Seq("price" -> (col("price") * 2)), changeFeed = true)
      TxLog.readChangeFeed(s, t, base)
        .groupBy(col("_change_type"))
        .agg(count(lit(1)).as("n"),
          r2d(sum(dec2(col("price")))).as("total"))
    }),

    "q102_tx_restore" -> ((s, dir) => {
      // RESTORE (TxLog.restore scaladoc): a good publish (v1 + v2
      // append), a bad overwrite (v3), then a metadata-only roll-back to
      // v2 — the read must see exactly the pre-1997 state, with the bad
      // version still auditable via time travel (asserted by reading v3
      // back and folding its row count into the result, so the oracle
      // also proves history survived the restore). A CHECK constraint
      // added before the bad publish rides along through the restore.
      val t = tmpTable("tx-q102")
      val o = Tables.orders(s, dir).select(
        col("o_orderkey"), col("o_orderstatus"),
        dec2(col("o_totalprice")).cast("double").as("price"),
        col("o_orderdate"))
      TxLog.overwrite(o.filter(year(col("o_orderdate")) < 1996), t)
      val good = TxLog.append(o.filter(year(col("o_orderdate")) === 1996), t)
      TxLog.addConstraint(s, t, "price_pos", "price > 0")
      TxLog.overwrite(o.filter(year(col("o_orderdate")) >= 1997), t) // bad
      TxLog.restore(s, t, good)
      val badRows = TxLog.readAsOf(s, t, good + 2)
        .groupBy(lit(1).as("__one")).agg(count(lit(1)).as("bad_rows"))
      TxLog.read(s, t)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          r2d(sum(dec2(col("price")))).as("total"))
        .crossJoin(broadcast(badRows.select(col("bad_rows"))))
    }),

    "q105_tx_stats" -> ((s, dir) => {
      // Metadata-only aggregate (TxLog.statsAggregate scaladoc): count,
      // min/max and null-count answered from the manifest alone — the
      // query plans ZERO data-file reads (TxLogSpec proves it by wiping
      // the data directory first). Hash equality with DuckDB's full-scan
      // aggregate over the same rows proves the folded per-file stats
      // equal the scan answer — the guarantee that lets a 100 TB
      // dashboard count come from one KB-sized manifest read.
      val t = tmpTable("tx-q105")
      TxLog.overwrite(
        Tables.orders(s, dir)
          .select(col("o_orderkey"), dec2(col("o_totalprice")).as("price"),
            col("o_orderdate"))
          .repartitionByRange(8, col("o_orderdate")), t)
      TxLog.statsAggregate(s, t, Seq("o_orderkey", "price", "o_orderdate"))
        .select(col("n_rows"),
          col("o_orderkey_min"), col("o_orderkey_max"),
          col("price_min").cast("double").as("price_min"),
          col("price_max").cast("double").as("price_max"),
          col("price_nulls"),
          date_format(col("o_orderdate_min"), "yyyy-MM-dd").as("date_min"),
          date_format(col("o_orderdate_max"), "yyyy-MM-dd").as("date_max"))
    }),

    "q106_tx_metaagg" -> ((s, dir) => {
      // The TxMetadataAgg OPTIMIZER RULE under the correctness gate:
      // this aggregate's plan folds a per-file-stats LocalRelation —
      // no data file is scanned (TxMetadataAggSpec proves the plan
      // shape; this query proves the VALUES) — and hash equality with
      // DuckDB's full-scan aggregate over the same rows is the
      // guarantee that lets the rule fire safely in production: the
      // metadata answer IS the scan answer.
      val t = tmpTable("tx-q106")
      Tables.orders(s, dir)
        .select(col("o_orderkey"), dec2(col("o_totalprice")).as("price"),
          col("o_orderdate"))
        .write.format("graft-txlog").mode("overwrite").save(t)
      s.read.format("graft-txlog").load(t)
        .selectExpr("count(*) AS n_rows", "count(price) AS n_price",
          "min(o_orderkey) AS key_min", "max(o_orderkey) AS key_max",
          "CAST(min(price) AS DOUBLE) AS price_min",
          "CAST(max(price) AS DOUBLE) AS price_max",
          "date_format(min(o_orderdate), 'yyyy-MM-dd') AS date_min",
          "date_format(max(o_orderdate), 'yyyy-MM-dd') AS date_max")
    }),

    "q107_tx_partitioned" -> ((s, dir) => {
      // Partitioned transactional table lifecycle (TxLog partition ops):
      //   v1: orders published Hive-partitioned by order year — partition
      //       columns stay inside the files, per-file partition values in
      //       the manifest;
      //   v2: DYNAMIC PARTITION OVERWRITE replaces ONLY year 1995 with its
      //       URGENT orders (the nightly re-publish shape: other years'
      //       files are never read, rewritten, or even listed);
      //   v3: dropPartitions(1998) — metadata-only retention delete.
      // The final state is read back through the manifest and aggregated
      // per year; the oracle recomputes that state from scratch in SQL,
      // so hash equality proves the partition targeting was EXACT — a
      // dynamic overwrite that missed a file, or a drop that matched too
      // much, shifts a year's count/total and mismatches.
      val t = tmpTable("tx-q107")
      val orders = Tables.orders(s, dir)
        .withColumn("o_year", year(col("o_orderdate")).cast("int"))
      TxLog.overwrite(orders, t, partitionBy = Some(Seq("o_year")))
      TxLog.overwritePartitions(
        orders.filter(col("o_year") === 1995 &&
          col("o_orderpriority") === "1-URGENT"), t)
      TxLog.dropPartitions(s, t, Map("o_year" -> 1998))
      TxLog.read(s, t)
        .groupBy(col("o_year"))
        .agg(count(lit(1)).as("n"),
          r2d(sum(dec2(col("o_totalprice")))).as("total"))
    }),

    "q110_tx_clone" -> ((s, dir) => {
      // Zero-copy SHALLOW CLONE (TxLog.clone scaladoc): pre-1997 orders
      // published to a source table, cloned (one metadata write — no
      // data byte moves, asserted by CloneSpec), then the clone and the
      // source DIVERGE: 1997+ orders are appended to the clone while
      // the source is overwritten down to a tiny subset. The clone is
      // read back and must aggregate to the FULL orders table — which
      // is only possible if (a) the clone really sees the source's
      // original files (nothing copied, nothing lost) and (b) neither
      // the clone's append nor the source's overwrite bled into the
      // other. The oracle is a from-scratch full-table recompute.
      val t = tmpTable("tx-q110")
      val c = tmpTable("tx-q110c")
      val o = Tables.orders(s, dir)
      TxLog.overwrite(o.filter(year(col("o_orderdate")) < 1997), t)
      TxLog.clone(s, t, c)
      TxLog.append(o.filter(year(col("o_orderdate")) >= 1997), c)
      TxLog.overwrite(o.filter(col("o_orderkey") <= 10), t) // source moves on
      TxLog.read(s, c)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          r2d(sum(dec2(col("o_totalprice")))).as("total"))
    }),

    "q111_tx_vacuum" -> ((s, dir) => {
      // VACUUM under the oracle gate (TxLog.vacuum scaladoc): v1 holds
      // the full orders table, v2 overwrites it with the 1996+ slice,
      // then vacuum(keep 1) physically deletes v1's files and manifest.
      // The surviving snapshot is read back and must still aggregate to
      // exactly the 1996+ slice — hash equality proves vacuum deleted
      // ONLY unreferenced files (an over-eager reap loses rows and
      // mismatches); `n_versions` pins that history really shrank to 1.
      // TxLogSpec separately proves the dropped files are gone from
      // disk and shared files survive.
      val t = tmpTable("tx-q111")
      val o = Tables.orders(s, dir)
      TxLog.overwrite(o, t)
      TxLog.overwrite(o.filter(year(col("o_orderdate")) >= 1996), t)
      TxLog.vacuum(s, t, keepVersions = 1)
      val remaining = TxLog.versions(s, t).size
      TxLog.read(s, t)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          r2d(sum(dec2(col("o_totalprice")))).as("total"))
        .withColumn("n_versions", lit(remaining))
    }),

    "q112_tx_bloom_lookup" -> ((s, dir) => {
      // Per-file Bloom-index point lookup (TxLog.setBloomIndex
      // scaladoc): orders published HASH-scattered on o_orderkey — the
      // layout where every file spans the whole key range, so min/max
      // stats prune NOTHING — then bloom-indexed and point-queried
      // through plain SQL. The sidecar filters answer "definitely not
      // in this file" for all but the key's own file (+ fpp
      // stragglers); BloomIndexSpec pins the planned-file counts, and
      // hash equality with DuckDB's full-scan lookup proves no
      // qualifying row lived in a bloom-skipped file. The probed keys
      // are the table's min/max key, fetched METADATA-ONLY from the
      // manifest stats (exists at every SF, no data read).
      val t = tmpTable("tx-q112")
      TxLog.overwrite(
        Tables.orders(s, dir).repartition(8, col("o_orderkey")), t)
      TxLog.setBloomIndex(s, t, Seq("o_orderkey"))
      val mm = TxLog.statsAggregate(s, t, Seq("o_orderkey"))
        .select(col("o_orderkey_min"), col("o_orderkey_max")).head
      s.read.format("graft-txlog").load(t)
        .filter(col("o_orderkey").isin(mm.getLong(0), mm.getLong(1)))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          dec2(col("o_totalprice")).cast("double").as("price"))
    }),

    "q113_tx_autobroadcast" -> ((s, dir) => {
      // Manifest cost statistics driving the JOIN PLANNER
      // (TxLogRelation.sizeInBytes): the customer dimension published
      // transactionally and joined to orders with NO broadcast() hint —
      // the relation reports its recorded on-disk bytes, Spark sees a
      // small table and auto-broadcasts (RelationStatsSpec pins the
      // BroadcastHashJoin plan shape; without the statistics a v1
      // relation defaults to effectively-infinite size and every join
      // shuffles both sides). Hash equality with DuckDB's plain join
      // proves the broadcast path loses/duplicates nothing.
      val t = tmpTable("tx-q113")
      TxLog.overwrite(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment")), t)
      val dim = s.read.format("graft-txlog").load(t)
      Tables.orders(s, dir)
        .join(dim, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          r2d(sum(dec2(col("o_totalprice")))).as("total"))
    }),

    "q114_tx_zorder" -> ((s, dir) => {
      // OPTIMIZE ZORDER under the oracle gate (TxLog.zorderOptimize
      // scaladoc): orders published hash-scattered (every file's
      // (custkey, totalprice) box spans the whole plane), then
      // transactionally re-clustered along the Morton curve and
      // 2-d-range-queried through readWhere — the stats pruning that
      // makes the query a few-file read (ZorderOptimizeSpec pins the
      // pruned file counts). Hash equality with DuckDB's full-scan
      // filter proves the rewrite is row-preserving AND the pruning
      // skipped no qualifying file.
      val t = tmpTable("tx-q114")
      TxLog.overwrite(
        Tables.orders(s, dir).repartition(8, col("o_orderkey")), t)
      TxLog.zorderOptimize(s, t, "o_custkey", "o_totalprice", numFiles = 8)
      TxLog.readWhere(s, t, Seq(
          ("o_custkey", Some(100L), Some(500L)),
          ("o_totalprice", Some(50000.0), Some(150000.0))))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          r2d(sum(dec2(col("o_totalprice")))).as("total"))
    }),

    "q128_merge_identity" -> ((s, dir) => {
      // General MERGE on a GENERATED ALWAYS AS IDENTITY table (the
      // round-8 refusal lifted): matched customers take a balance
      // update, NOT MATCHED rows insert WITHOUT the id column and
      // receive fresh ids from the high-water mark inside the merge
      // commit itself. Which inserted row got which id is
      // layout-dependent, so the gate checks q120-style invariants —
      // row/id counts, id range endpoints (max(custkey) + inserts), and
      // the exact post-merge balance total proving the update applied.
      import graft.sources.TxLog.{MergeInsert, MergeUpdate}
      val t = tmpTable("tx-q128")
      TxLog.overwrite(Tables.customer(s, dir).select(
        col("c_custkey").as("row_id"), col("c_custkey").as("k"),
        dec2(col("c_acctbal")).as("bal")), t)
      TxLog.setIdentityColumn(s, t, "row_id")
      val perCust = Tables.orders(s, dir)
        .groupBy(col("o_custkey").as("sk")).agg(count(lit(1)).as("cnt"))
      val source = perCust.unionByName(perCust.filter(col("cnt") > 28)
        .select((col("sk") + 10000000L).as("sk"), col("cnt")))
      TxLog.mergeInto(s, t, source,
        on = expr("t.k = s.sk"),
        matched = Seq(MergeUpdate(Map("bal" -> expr("t.bal + s.cnt")))),
        notMatched = Seq(MergeInsert(Map("k" -> expr("s.sk"),
          "bal" -> expr("s.cnt")))))
      TxLog.read(s, t).agg(
        count(lit(1)).as("n_rows"),
        countDistinct("row_id").as("n_ids"),
        min("row_id").as("id_min"),
        max("row_id").as("id_max"),
        r2d(sum(col("bal"))).as("total"))
    }),

    "q130_tx_convert" -> ((s, dir) => {
      // CONVERT TO GRAFT (TxLog.convert scaladoc — the Delta CONVERT TO
      // DELTA capability): a PLAIN parquet directory (written by a
      // stock Spark job, custkey-clustered) is adopted in place as
      // version 1 — no data byte moves; the convert-time stats pass
      // then drives file skipping on the custkey range below, and a
      // post-convert DELETE proves the adopted directory is a full
      // transactional citizen. The oracle recomputes filter+delete+agg
      // from the raw rows — hash equality proves adoption changed
      // nothing and the converted stats pruned no qualifying file.
      val t = tmpTable("tx-q130")
      Tables.orders(s, dir)
        .repartitionByRange(8, col("o_custkey"))
        .sortWithinPartitions("o_custkey")
        .write.parquet(t) // plain parquet — no transaction log yet
      s.sql(s"CONVERT TO GRAFT '$t'")
      TxLog.delete(s, t, col("o_orderpriority") === lit("1-URGENT"))
      TxLog.readWhere(s, t, Seq(("o_custkey", Some(100L), Some(800L))))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          r2d(sum(dec2(col("o_totalprice")))).as("total"))
    }),

    "q129_merge_evolve" -> ((s, dir) => {
      // MERGE WITH SCHEMA EVOLUTION as pure SQL (TxLog.mergeInto's
      // evolveSchema scaladoc): the source carries a column the target
      // lacks (per-customer order count `total`); the star clauses
      // assign it, so the merge widens the table to (k, bal, seg,
      // total) inside the SAME commit — matched rows take source
      // values, untouched rows null-fill the new column, inserts carry
      // all four. The oracle recomputes the evolved state as a LEFT
      // JOIN + anti-join UNION in DuckDB; hash equality proves the
      // evolution wrote real values exactly where a clause acted and
      // NULLs exactly where none did.
      val t = tmpTable("tx-q129")
      TxLog.overwrite(Tables.customer(s, dir).select(
        col("c_custkey").as("k"),
        dec2(col("c_acctbal")).cast("double").as("bal"),
        col("c_mktsegment").as("seg")), t)
      val perCust = Tables.orders(s, dir).groupBy(col("o_custkey").as("k"))
        .agg(r2d(sum(dec2(col("o_totalprice")))).as("bal"),
          count(lit(1)).as("total"))
        .withColumn("seg", lit("MERGED"))
      val source = perCust.unionByName(perCust.filter(col("total") > 28)
        .withColumn("k", col("k") + 10000000L))
      val name = "q129_" + java.util.UUID.randomUUID().toString.replace("-", "_")
      s.sql(s"CREATE TABLE $name USING `graft-txlog` OPTIONS (path '$t')")
      source.createOrReplaceTempView(s"${name}_src")
      s.sql(
        s"""MERGE WITH SCHEMA EVOLUTION INTO $name t USING ${name}_src s
           |ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      TxLog.read(s, t)
    }),

    "q127_replace_where" -> ((s, dir) => {
      // Arbitrary-predicate replaceWhere (TxLog.replaceWhere scaladoc):
      // one atomic commit deletes 1995's rows and inserts their
      // restatement — the backfill shape. The oracle recomputes the net
      // effect with a CASE; hash equality proves the predicate range
      // was replaced exactly (no survivor inside, no casualty outside)
      // and the insert constraint let only in-range rows in.
      val t = tmpTable("tx-q127")
      TxLog.overwrite(Tables.orders(s, dir)
        .repartitionByRange(8, col("o_orderdate")), t)
      val restated = Tables.orders(s, dir)
        .filter(year(col("o_orderdate")) === 1995)
        .withColumn("o_orderpriority", lit("5-RESTATED"))
      TxLog.replaceWhere(restated, t, year(col("o_orderdate")) === 1995)
      TxLog.read(s, t)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          r2d(sum(dec2(col("o_totalprice")))).as("total"))
    }),

    "q126_sql_maintenance" -> ((s, dir) => {
      // SQL-only table maintenance + schema DDL (plans/TxSqlMaintenance
      // scaladoc): RENAME COLUMN → OPTIMIZE → UPDATE → RESTORE → VACUUM
      // → ADD COLUMN, every statement pure SQL text through the injected
      // parser. The oracle sees only what the lifecycle PROMISES to
      // leave behind: the update erased by RESTORE, the rename live in
      // the output names, the added column all-NULL, exactly 3 manifest
      // versions surviving VACUUM — hash equality proves each statement
      // routed to the real transactional operator, not a no-op.
      val t = tmpTable("tx-q126")
      TxLog.overwrite(Tables.orders(s, dir)
        .filter(year(col("o_orderdate")) < 1995)
        .repartitionByRange(4, col("o_orderdate")), t) //              v1
      TxLog.append(Tables.orders(s, dir)
        .filter(year(col("o_orderdate")) >= 1995), t) //               v2
      val name = "q126_" + java.util.UUID.randomUUID().toString.replace("-", "_")
      s.sql(s"CREATE TABLE $name USING `graft-txlog` OPTIONS (path '$t')")
      s.sql(s"ALTER TABLE $name RENAME COLUMN o_orderstatus TO status") // v3
      s.sql(s"OPTIMIZE $name") //                                      v4
      s.sql(s"UPDATE $name SET o_orderpriority = '9-GONE'") //         v5
      s.sql(s"RESTORE TABLE $name TO VERSION AS OF 4") //              v6
      s.sql(s"VACUUM $name RETAIN 2 VERSIONS") // manifests 1-4 drop
      s.sql(s"ALTER TABLE $name ADD COLUMN bucket INT") //             v7
      val live = TxLog.versions(s, t).size
      s.sql(
        s"""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
           | CAST(count(bucket) AS BIGINT) AS bucket_vals,
           | CAST(sum(CASE WHEN status = 'F' THEN 1 ELSE 0 END)
           |   AS BIGINT) AS finished,
           | CAST($live AS BIGINT) AS live_versions
           |FROM $name GROUP BY o_orderpriority""".stripMargin)
    }),

    "q125_tx_hilbert" -> ((s, dir) => {
      // q114's re-cluster along the HILBERT curve (functions/Hilbert
      // scaladoc; curve = "hilbert" on zorderOptimize): same
      // hash-scattered publish, same 2-d box read, same full-scan
      // oracle — hash equality proves the Hilbert rewrite is
      // row-preserving and its pruning skipped no qualifying file
      // (HilbertSpec separately proves the curve itself: exhaustive
      // bijection + unit-step adjacency).
      val t = tmpTable("tx-q125")
      TxLog.overwrite(
        Tables.orders(s, dir).repartition(8, col("o_orderkey")), t)
      TxLog.zorderOptimize(s, t, Seq("o_custkey", "o_totalprice"),
        numFiles = 8, partition = Map.empty, curve = "hilbert")
      TxLog.readWhere(s, t, Seq(
          ("o_custkey", Some(100L), Some(500L)),
          ("o_totalprice", Some(50000.0), Some(150000.0))))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          r2d(sum(dec2(col("o_totalprice")))).as("total"))
    }),

    "q115_tx_deletion_vectors" -> ((s, dir) => {
      // DELETE via deletion vectors under the oracle gate (TxLog.delete
      // scaladoc): orders published, a scattered predicate DV-deleted —
      // no data file rewritten, the matching positions live in sidecars
      // (DeletionVectorSpec pins byte-identical files) — then the live
      // state is read back THROUGH the vectors and aggregated. A second,
      // overlapping delete unions into the same vectors. Hash equality
      // with DuckDB's WHERE NOT(...) recompute proves the anti-joined
      // read removes exactly the deleted rows — across both deletes.
      val t = tmpTable("tx-q115")
      TxLog.overwrite(
        Tables.orders(s, dir).repartition(8, col("o_orderkey")), t)
      TxLog.delete(s, t,
        col("o_orderstatus") === "F" && year(col("o_orderdate")) <= 1994,
        deletionVectors = true)
      TxLog.delete(s, t, col("o_orderpriority") === "1-URGENT",
        deletionVectors = true)
      TxLog.read(s, t)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          r2d(sum(dec2(col("o_totalprice")))).as("total"))
    }),

    "q137_tx_dfp_sql" -> ((s, dir) => {
      // q134's dynamic file pruning through the SQL spelling a user
      // actually writes — `WHERE key IN (SELECT …)` on a CATALOG
      // table: the rule prunes from the still-inline ListQuery before
      // the subquery rewrite, so the fact's manifest file list shrinks
      // at planning time with no WHERE on the fact anywhere. Oracle =
      // DuckDB's semi join over the full tables.
      val t = tmpTable("tx-q137")
      TxLog.overwrite(
        Tables.orders(s, dir).repartitionByRange(8, col("o_custkey")), t)
      val name = "q137_" + java.util.UUID.randomUUID().toString.replace("-", "_")
      s.sql(s"CREATE TABLE $name USING `graft-txlog` OPTIONS (path '$t')")
      Tables.customer(s, dir).createOrReplaceTempView(s"${name}_cust")
      s.sql(
        s"""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
           | CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total
           |FROM $name
           |WHERE o_custkey IN (
           |  SELECT c_custkey FROM ${name}_cust
           |  WHERE c_mktsegment = 'BUILDING' AND c_custkey <= 400)
           |GROUP BY o_orderpriority""".stripMargin)
    }),

    "q136_tx_purge" -> ((s, dir) => {
      // REORG APPLY (PURGE) under the oracle gate (TxLog.purgeDvs): a
      // DV delete leaves vectors; the purge rewrites ONLY the vectored
      // files and the committed manifest is vector-free (asserted
      // in-query). Hash equality with DuckDB's plain WHERE recompute
      // proves the materialization is row-exact — no deleted row
      // resurrects, no live row is lost.
      val t = tmpTable("tx-q136")
      TxLog.overwrite(Tables.orders(s, dir)
        .repartitionByRange(6, col("o_custkey")), t)
      TxLog.delete(s, t, col("o_orderpriority") === "1-URGENT" &&
        col("o_custkey") <= 500, deletionVectors = true)
      val v = TxLog.purgeDvs(s, t)
      require(TxLog.manifestAt(s, t, v).dvs.forall(_.isEmpty),
        "purge must leave no vector")
      TxLog.read(s, t).groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          r2d(sum(dec2(col("o_totalprice")))).as("total"))
    }),

    "q135_tx_copy_into" -> ((s, dir) => {
      // COPY INTO-class idempotent ingest under the oracle gate
      // (TxLog.copyInto): orders lands in two waves; the second run
      // ingests only the NEW files, a third run over unchanged content
      // commits NOTHING (version pinned in-query) — the final table
      // holds every order exactly once, hash-checked against DuckDB
      // over the raw table. The reference's nightly extract/load re-run
      // (data_cleaning.py:30-118) is this shape: re-listing a growing
      // landing dir must never double-ingest.
      val land = tmpTable("tx-q135-landing")
      val t = tmpTable("tx-q135")
      val o = Tables.orders(s, dir).select(col("o_orderkey"),
        col("o_custkey"), col("o_orderpriority"),
        dec2(col("o_totalprice")).as("price"))
      o.filter(col("o_orderkey") % 3 === 0).repartition(2)
        .write.mode("append").parquet(land)
      // decoy rows in a sub-dir the PATTERN must exclude (a landing
      // zone shared with another feed — the Delta PATTERN use case):
      // ingesting them would duplicate a third of the orders and fail
      // the hash gate
      o.filter(col("o_orderkey") % 3 === 0).repartition(1)
        .write.mode("append").parquet(s"$land/junk")
      val pat = Some("part-*")
      TxLog.copyInto(s, land, t, pattern = pat)
      o.filter(col("o_orderkey") % 3 =!= 0).repartition(3)
        .write.mode("append").parquet(land)
      val r2 = TxLog.copyInto(s, land, t, pattern = pat)
      val r3 = TxLog.copyInto(s, land, t, pattern = pat)
      require(r3.filesIngested == 0 && r3.version == r2.version,
        "a copy over unchanged landing content must commit nothing")
      TxLog.read(s, t).groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), r2d(sum(col("price"))).as("total"))
    }),

    "q134_tx_dfp" -> ((s, dir) => {
      // DYNAMIC file pruning under the oracle gate
      // (plans/DynamicFilePruning, the Delta DFP shape): orders
      // range-clustered by o_custkey through the transactional layer,
      // then joined to a small FILTERED customer dim — no static WHERE
      // on the fact anywhere, so q109's pushed-filter path cannot help.
      // The dim's key set is collected at planning time and replayed
      // through the manifest stats, planning only the low-custkey files
      // (DynamicFilePruningSpec pins the planned-file counts); hash
      // equality with DuckDB's full-scan join proves no qualifying row
      // lived in a skipped file.
      val t = tmpTable("tx-q134")
      TxLog.overwrite(
        Tables.orders(s, dir).repartitionByRange(8, col("o_custkey")), t)
      val fact = s.read.format("graft-txlog").load(t)
      val dim = Tables.customer(s, dir)
        .filter(col("c_mktsegment") === "MACHINERY" && col("c_custkey") <= 300)
        .select("c_custkey")
      fact.join(dim, fact("o_custkey") === dim("c_custkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          r2d(sum(dec2(col("o_totalprice")))).as("total"))
    }),

    "q138_tx_readd" -> ((s, dir) => {
      // Column re-add after drop under the oracle gate (TxLog.addColumns
      // name-mapping scaladoc): even-key orders published WITH an o_flag
      // column (o_orderkey % 5), the column dropped (metadata-only),
      // then RE-ADDED under the same name — a fresh physical binding
      // (o_flag__2) through the rename map — and the odd-key half
      // appended carrying o_flag = o_orderkey % 3. flag_sum hash-proves
      // the mapping both ways: a resurrected pre-drop %5 value or a
      // lost %3 value shifts the sum; the oracle models the re-added
      // column as NULL over every pre-add row.
      val t = tmpTable("tx-q138")
      val o = Tables.orders(s, dir)
      TxLog.overwrite(o.filter(col("o_orderkey") % 2 === 0)
        .withColumn("o_flag", col("o_orderkey") % 5), t)
      TxLog.dropColumn(s, t, "o_flag")
      TxLog.addColumns(s, t, Seq(
        org.apache.spark.sql.types.StructField("o_flag",
          org.apache.spark.sql.types.LongType)))
      TxLog.append(o.filter(col("o_orderkey") % 2 =!= 0)
        .withColumn("o_flag", col("o_orderkey") % 3), t)
      TxLog.read(s, t)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_flag")).as("flag_sum"),
          r2d(sum(dec2(col("o_totalprice")))).as("total"))
    }),

    "q139_tx_dfp_wide" -> ((s, dir) => {
      // q134's dynamic file pruning with a dim whose key set EXCEEDS
      // the literal-IN cap (1101 distinct c_custkey at sf0.01 vs
      // maxKeys = 1000): the rule's summary tier injects ONE InSet
      // node instead of backing off, and file pruning runs the
      // one-sort window prune (TxLog.pruneByValueSet) against the
      // manifest stats — the 100 TB star shape where a 10⁴–10⁵-key
      // dim must still prune. Hash equality with DuckDB's full-scan
      // join proves the set-summary path loses no qualifying row.
      val t = tmpTable("tx-q139")
      TxLog.overwrite(
        Tables.orders(s, dir).repartitionByRange(8, col("o_custkey")), t)
      val fact = s.read.format("graft-txlog").load(t)
      val dim = Tables.customer(s, dir)
        .filter(col("c_custkey").between(100, 1200))
        .select("c_custkey")
      fact.join(dim, fact("o_custkey") === dim("c_custkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          r2d(sum(dec2(col("o_totalprice")))).as("total"))
    }),

    "q140_tx_widen" -> ((s, dir) => {
      // Metadata-only TYPE WIDENING under the oracle gate
      // (TxLog.alterColumnType scaladoc): even-key orders published
      // with o_key32 = CAST(o_orderkey AS INT) — int32 pages on disk —
      // the column widened int→long (a catalog edit, zero files
      // rewritten), then the odd-key half appended carrying
      // o_key32 = o_orderkey + 3·10⁹, values only a LONG can hold.
      // key_sum hash-proves the scan-time promotion is value-exact on
      // every pre-widen file while post-widen rows land wide; the
      // oracle models the final column as one BIGINT expression.
      val t = tmpTable("tx-q140")
      val o = Tables.orders(s, dir)
      TxLog.overwrite(o.filter(col("o_orderkey") % 2 === 0)
        .withColumn("o_key32", col("o_orderkey").cast("int")), t)
      TxLog.alterColumnType(s, t, "o_key32",
        org.apache.spark.sql.types.LongType)
      TxLog.append(o.filter(col("o_orderkey") % 2 =!= 0)
        .withColumn("o_key32", col("o_orderkey") + lit(3000000000L)), t)
      TxLog.read(s, t)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_key32")).as("key_sum"),
          r2d(sum(dec2(col("o_totalprice")))).as("total"))
    }),

    "q142_tx_default" -> ((s, dir) => {
      // Column DEFAULTs under the oracle gate (TxLog.setColumnDefault
      // scaladoc): even-key orders published WITH o_flag =
      // o_orderkey % 5, a constant default of 7 declared, then the
      // odd-key half appended WITHOUT the column — filled at the write
      // head. flag_sum hash-catches a missed fill (nulls drop the sum)
      // and a default overwriting provided values alike.
      val t = tmpTable("tx-q142")
      val o = Tables.orders(s, dir)
      TxLog.overwrite(o.filter(col("o_orderkey") % 2 === 0)
        .withColumn("o_flag", col("o_orderkey") % 5), t)
      TxLog.setColumnDefault(s, t, "o_flag", "7")
      TxLog.append(o.filter(col("o_orderkey") % 2 =!= 0), t)
      TxLog.read(s, t)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_flag")).as("flag_sum"),
          r2d(sum(dec2(col("o_totalprice")))).as("total"))
    }),

    "q143_tx_gen_derive" -> ((s, dir) => {
      // Generated-column PREDICATE DERIVATION under the oracle gate
      // (GeneratedDerivation scaladoc): the q118 table shape — orders
      // partitioned by a GENERATED o_year — queried through the SQL
      // relation with a filter on the RAW o_orderdate ONLY. The
      // reference's own views filter raw trade_date over derived
      // year/month layouts (reference sql/hive_schemas.sql:236-251);
      // o_orderdate is a TIMESTAMP, whose stats are excluded from the
      // bounds compare, so every pruned partition here is pruned by
      // the derived o_year bounds alone (GeneratedPruningSpec pins the
      // planned-file counts). Hash equality with DuckDB's full-scan
      // WHERE proves no qualifying row lived in a skipped partition.
      val t = tmpTable("tx-q143")
      val o = Tables.orders(s, dir)
        .withColumn("o_year", year(col("o_orderdate")).cast("int"))
      TxLog.overwrite(o, t, partitionBy = Some(Seq("o_year")))
      TxLog.setGeneratedColumn(s, t, "o_year",
        "CAST(year(o_orderdate) AS INT)")
      s.read.format("graft-txlog").load(t)
        .filter(col("o_orderdate") >=
            lit("1995-01-01 00:00:00").cast("timestamp") &&
          col("o_orderdate") <=
            lit("1996-12-31 23:59:59.999").cast("timestamp"))
        .groupBy(col("o_year"))
        .agg(count(lit(1)).as("n"),
          r2d(sum(dec2(col("o_totalprice")))).as("total"))
    }),

    "q144_tx_deep_clone" -> ((s, dir) => {
      // DEEP CLONE under the oracle gate (TxLog.deepClone scaladoc):
      // orders published, a DV delete leaves live vectors, the table
      // deep-clones (files + sidecars copied, nothing borrowed), and
      // the SOURCE is then overwritten down to one poison row. The
      // aggregate reads the CLONE: hash equality with DuckDB's
      // delete-filtered orders proves the copy was byte-faithful
      // (missing file drops rows, stale sidecar resurrects deleted
      // ones) and fully independent of the source's later life.
      val src = tmpTable("tx-q144-src")
      val t = tmpTable("tx-q144")
      TxLog.overwrite(Tables.orders(s, dir), src)
      TxLog.delete(s, src, col("o_orderkey") % 7 === 2,
        deletionVectors = true)
      TxLog.deepClone(s, src, t)
      TxLog.overwrite(
        s.range(1).selectExpr("id AS o_orderkey", "'poison' AS o_comment"),
        src)
      TxLog.read(s, t)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          r2d(sum(dec2(col("o_totalprice")))).as("total"))
    }),

    "q141_tx_symlink" -> ((s, dir) => {
      // GENERATE symlink_format_manifest under the oracle gate
      // (TxLog.generateSymlinkManifest scaladoc): orders published
      // PARTITIONED by o_orderpriority, manifests generated, and the
      // aggregate computed by reading ONLY the manifest lines as raw
      // parquet — exactly what an external Presto/Trino-class engine
      // does. Hash equality with DuckDB's full-table aggregate proves
      // the manifests list precisely the live snapshot (a missing file
      // drops rows, a stale one duplicates them). A delete first, so
      // the manifests must reflect post-DML liveness, not the original
      // publish.
      val t = tmpTable("tx-q141")
      TxLog.overwrite(Tables.orders(s, dir), t,
        partitionBy = Some(Seq("o_orderpriority")))
      TxLog.delete(s, t, col("o_orderkey") % 10 === 3)
      val manifests = TxLog.generateSymlinkManifest(s, t)
      val files = manifests.flatMap { rel =>
        new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(t, rel)), "UTF-8")
          .split("\n").toSeq.filter(_.nonEmpty)
      }
      s.read.parquet(files: _*)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          r2d(sum(dec2(col("o_totalprice")))).as("total"))
    }),

    "q109_tx_sql_skipping" -> ((s, dir) => {
      // The AUTOMATIC file-skipping path under the oracle gate
      // (TxLogRelation.buildScan): orders published range-clustered by
      // o_custkey through the transactional layer, then queried with a
      // plain SQL WHERE — no readWhere/readBetween call anywhere. The
      // pushed filters prune the planned file list from the manifest
      // stats at planning time; hash equality with DuckDB's full-scan
      // WHERE proves no qualifying row lived in a skipped file (the
      // spec separately pins the planned-file counts).
      val t = tmpTable("tx-q109")
      TxLog.overwrite(
        Tables.orders(s, dir).repartitionByRange(8, col("o_custkey")), t)
      s.read.format("graft-txlog").load(t)
        .filter(col("o_custkey") >= 100 && col("o_custkey") <= 400)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          r2d(sum(dec2(col("o_totalprice")))).as("total"))
    }),

    "q108_partition_ivm" -> ((s, dir) => {
      // q103's IVM machinery composed with the PARTITION ops (the Delta
      // replaceWhere+CDF shape): a year-partitioned orders table
      // publishes v1 and materializes per-priority count+sum; the state
      // is then maintained through a dynamic partition overwrite
      // (1995 → its URGENT orders only) and a partition drop (1998)
      // purely from their recorded change feeds — retired partitions
      // retracted, replacement rows folded in, base table never
      // rescanned (cost ∝ the changed partitions). Hash equality with
      // the oracle's from-scratch recompute of the final table proves
      // the partition ops' feeds are row-exact.
      val t = tmpTable("tx-q108")
      val o = Tables.orders(s, dir).select(
        col("o_orderkey"), col("o_orderpriority"),
        dec2(col("o_totalprice")).cast("double").as("price"),
        year(col("o_orderdate")).cast("int").as("o_year"))
      val base = TxLog.overwrite(o, t, partitionBy = Some(Seq("o_year")))
      val state = Incremental.aggRetractState(
        TxLog.readAsOf(s, t, base), Seq("o_orderpriority"), col("price"))
      TxLog.overwritePartitions(
        o.filter(col("o_year") === 1995 &&
          col("o_orderpriority") === "1-URGENT"), t, changeFeed = true)
      TxLog.dropPartitions(s, t, Map("o_year" -> 1998), changeFeed = true)
      val delta = Incremental.cdfDelta(
        TxLog.readChangeFeed(s, t, base), Seq("o_orderpriority"), col("price"))
      Incremental.mergeRetract(state, delta, Seq("o_orderpriority"))
        .select(col("o_orderpriority"), col("n"),
          r2d(col("sum_v")).as("total"))
    }),

    "q103_tx_ivm" -> ((s, dir) => {
      // Incremental view maintenance driven by the change feed
      // (Incremental.cdfDelta scaladoc): materialize per-status
      // count+sum from the base snapshot, run an append, a CDF delete
      // and a CDF update, then fold ONE pass over the feed into the
      // state — never re-reading the base data. Hash equality with the
      // oracle's from-scratch recompute of the final table proves
      // fold(state, cdfDelta(feed)) == recompute through inserts,
      // retractions, and pre/post update pairs (the F key disappears:
      // full retraction). Maintenance cost ∝ change volume — the
      // reason a 100 TB nightly rollup consumes the feed instead of
      // rescanning the table.
      val t = tmpTable("tx-q103")
      val o = Tables.orders(s, dir).select(
        col("o_orderkey"), col("o_orderstatus"),
        dec2(col("o_totalprice")).cast("double").as("price"),
        col("o_orderdate"))
      val base = TxLog.overwrite(o.filter(year(col("o_orderdate")) < 1996), t)
      val state = Incremental.aggRetractState(
        TxLog.readAsOf(s, t, base), Seq("o_orderstatus"), col("price"))
      TxLog.append(o.filter(year(col("o_orderdate")) === 1996), t)
      TxLog.delete(s, t, col("o_orderstatus") === "F", changeFeed = true)
      TxLog.update(s, t, col("o_orderstatus") === "P",
        Seq("price" -> (col("price") * 2)), changeFeed = true)
      val delta = Incremental.cdfDelta(
        TxLog.readChangeFeed(s, t, base), Seq("o_orderstatus"), col("price"))
      Incremental.mergeRetract(state, delta, Seq("o_orderstatus"))
        .select(col("o_orderstatus"), col("n"),
          r2d(col("sum_v")).as("total"))
    }))

  /** Shared by q97 (copy-on-write) and q116 (deletion vectors): the two
    * update paths must be semantically indistinguishable.
    */
  private val updateOracle =
    """SELECT CASE WHEN o_orderstatus = 'F' THEN '0-RECLASSIFIED'
      |            ELSE o_orderpriority END AS o_orderpriority,
      | CAST(count(*) AS BIGINT) AS n,
      | CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total
      |FROM orders GROUP BY 1""".stripMargin

  /** Shared by q93 (touched-files merge) and q117 (DV merge). */
  private val mergeOracle =
    """WITH snap AS (
      |  SELECT c_custkey, CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS bal
      |  FROM customer),
      |chg AS (
      |  SELECT o_custkey AS c_custkey,
      |         CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS bal,
      |         CASE WHEN o_orderstatus = 'F' THEN 'D' ELSE 'U' END AS op
      |  FROM orders
      |  QUALIFY row_number() OVER (PARTITION BY o_custkey
      |                             ORDER BY o_orderdate DESC, o_orderkey DESC) = 1)
      |SELECT c_custkey, bal FROM snap
      |WHERE c_custkey NOT IN (SELECT c_custkey FROM chg)
      |UNION ALL
      |SELECT c_custkey, bal FROM chg WHERE op <> 'D'""".stripMargin

  val oracles: Map[String, String] = Map(

    "q89_lakehouse_pipeline" ->
      """WITH snap AS (
        |  SELECT c_custkey, CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS bal
        |  FROM customer),
        |chg AS (
        |  SELECT o_custkey AS c_custkey,
        |         CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS bal,
        |         CASE WHEN o_orderstatus = 'F' THEN 'D' ELSE 'U' END AS op
        |  FROM orders
        |  QUALIFY row_number() OVER (PARTITION BY o_custkey
        |                             ORDER BY o_orderdate DESC, o_orderkey DESC) = 1),
        |cur AS (
        |  SELECT c_custkey, bal FROM snap
        |  WHERE c_custkey NOT IN (SELECT c_custkey FROM chg)
        |  UNION ALL
        |  SELECT c_custkey, bal FROM chg WHERE op <> 'D'),
        |cur2 AS (
        |  SELECT c_custkey, bal, DATE '1995-01-01' AS eff_from, 0 AS prec FROM cur),
        |chg2 AS (
        |  SELECT c_custkey, bal, eff_from, 1 AS prec FROM (
        |    SELECT o_custkey AS c_custkey,
        |           CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS bal,
        |           CAST(o_orderdate AS DATE) AS eff_from, o_orderkey
        |    FROM orders WHERE o_custkey IN (SELECT c_custkey FROM cur))
        |  QUALIFY row_number() OVER (PARTITION BY c_custkey, eff_from
        |                             ORDER BY o_orderkey DESC) = 1),
        |u AS (
        |  SELECT c_custkey, bal, eff_from
        |  FROM (SELECT * FROM cur2 UNION ALL SELECT * FROM chg2)
        |  QUALIFY row_number() OVER (PARTITION BY c_custkey, eff_from
        |                             ORDER BY prec DESC) = 1),
        |dim AS (
        |  SELECT c_custkey, bal, eff_from,
        |    lead(eff_from) OVER (PARTITION BY c_custkey ORDER BY eff_from) IS NULL AS is_current
        |  FROM u)
        |SELECT is_current, CAST(year(eff_from) AS INT) AS eff_year,
        | CAST(count(bal) AS BIGINT) AS n,
        | CAST(sum(CAST(bal AS DECIMAL(18,4))) AS DOUBLE) AS sum_v,
        | CAST(min(CAST(bal AS DECIMAL(18,4))) AS DOUBLE) AS min_v,
        | CAST(max(CAST(bal AS DECIMAL(18,4))) AS DOUBLE) AS max_v,
        | CAST(sum(CAST(bal AS DECIMAL(18,4))) AS DOUBLE) / count(bal) AS avg_v
        |FROM dim GROUP BY 1, 2""".stripMargin,

    "q90_tx_snapshot" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        | CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total
        |FROM orders GROUP BY 1""".stripMargin,

    "q91_tx_timetravel" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        | CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total
        |FROM orders GROUP BY 1""".stripMargin,

    "q110_tx_clone" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        | CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total
        |FROM orders GROUP BY 1""".stripMargin,

    "q111_tx_vacuum" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        | CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total,
        | 1 AS n_versions
        |FROM orders
        |WHERE year(o_orderdate) >= 1996
        |GROUP BY 1""".stripMargin,

    "q112_tx_bloom_lookup" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        | CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price
        |FROM orders
        |WHERE o_orderkey IN (SELECT min(o_orderkey) FROM orders)
        |   OR o_orderkey IN (SELECT max(o_orderkey) FROM orders)""".stripMargin,

    "q113_tx_autobroadcast" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
        | CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin,

    "q114_tx_zorder" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        | CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total
        |FROM orders
        |WHERE o_custkey >= 100 AND o_custkey <= 500
        |  AND o_totalprice >= 50000 AND o_totalprice <= 150000
        |GROUP BY 1""".stripMargin,

    // the lifecycle's net effect: whole orders (v1 ∪ v2 slices), the
    // update erased by RESTORE, bucket all-NULL, 3 surviving versions
    "q128_merge_identity" ->
      """WITH src AS (
        |  SELECT o_custkey AS sk, count(*) AS cnt FROM orders GROUP BY 1),
        |big AS (SELECT sk + 10000000 AS sk, cnt FROM src WHERE cnt > 28),
        |allsrc AS (SELECT * FROM src UNION ALL SELECT * FROM big)
        |SELECT
        | CAST((SELECT count(*) FROM customer) + (SELECT count(*) FROM big) AS BIGINT) AS n_rows,
        | CAST((SELECT count(*) FROM customer) + (SELECT count(*) FROM big) AS BIGINT) AS n_ids,
        | CAST((SELECT min(c_custkey) FROM customer) AS BIGINT) AS id_min,
        | CAST((SELECT max(c_custkey) FROM customer)
        |   + (SELECT count(*) FROM big) AS BIGINT) AS id_max,
        | CAST(round((SELECT sum(CAST(c_acctbal AS DECIMAL(12,2))) FROM customer)
        |   + (SELECT sum(cnt) FROM allsrc), 2) AS DOUBLE) AS total""".stripMargin,

    "q130_tx_convert" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        | CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total
        |FROM orders
        |WHERE o_custkey >= 100 AND o_custkey <= 800
        |  AND o_orderpriority <> '1-URGENT'
        |GROUP BY 1""".stripMargin,

    "q129_merge_evolve" ->
      """WITH src0 AS (
        |  SELECT o_custkey AS k,
        |    CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS bal,
        |    count(*) AS total
        |  FROM orders GROUP BY 1),
        |allsrc AS (
        |  SELECT k, bal, total FROM src0
        |  UNION ALL
        |  SELECT k + 10000000, bal, total FROM src0 WHERE total > 28),
        |upd AS (
        |  SELECT c.c_custkey AS k,
        |    CASE WHEN s.k IS NOT NULL THEN s.bal
        |         ELSE CAST(CAST(c.c_acctbal AS DECIMAL(12,2)) AS DOUBLE) END AS bal,
        |    CASE WHEN s.k IS NOT NULL THEN 'MERGED'
        |         ELSE c.c_mktsegment END AS seg,
        |    s.total AS total
        |  FROM customer c LEFT JOIN allsrc s ON c.c_custkey = s.k),
        |ins AS (
        |  SELECT s.k, s.bal, 'MERGED' AS seg, s.total
        |  FROM allsrc s LEFT JOIN customer c ON c.c_custkey = s.k
        |  WHERE c.c_custkey IS NULL)
        |SELECT k, bal, seg, CAST(total AS BIGINT) AS total FROM upd
        |UNION ALL
        |SELECT k, bal, seg, CAST(total AS BIGINT) AS total FROM ins""".stripMargin,

    "q127_replace_where" ->
      """WITH base AS (
        |  SELECT o_totalprice,
        |    CASE WHEN year(o_orderdate) = 1995 THEN '5-RESTATED'
        |         ELSE o_orderpriority END AS o_orderpriority
        |  FROM orders)
        |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        | CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total
        |FROM base GROUP BY 1""".stripMargin,

    "q126_sql_maintenance" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        | CAST(0 AS BIGINT) AS bucket_vals,
        | CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
        |   AS BIGINT) AS finished,
        | CAST(3 AS BIGINT) AS live_versions
        |FROM orders GROUP BY 1""".stripMargin,

    // q114's oracle verbatim: the curve changes the LAYOUT, never the rows
    "q125_tx_hilbert" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        | CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total
        |FROM orders
        |WHERE o_custkey >= 100 AND o_custkey <= 500
        |  AND o_totalprice >= 50000 AND o_totalprice <= 150000
        |GROUP BY 1""".stripMargin,

    "q115_tx_deletion_vectors" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        | CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total
        |FROM orders
        |WHERE NOT (o_orderstatus = 'F' AND year(o_orderdate) <= 1994)
        |  AND NOT (o_orderpriority = '1-URGENT')
        |GROUP BY 1""".stripMargin,

    "q121_tx_rename" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        | CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total
        |FROM orders GROUP BY 1""".stripMargin,

    "q122_pipeline_publish" ->
      """WITH m AS (
        |  SELECT doc_id,
        |   md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp,
        |   len(string_split(text, ' ')) AS n_tok,
        |   length(replace(text, ' ', '')) AS n_nonspace,
        |   len(list_filter(string_split(text, ' '), x -> x IN ('the','and','of','a'))) AS stop_n
        |  FROM documents),
        |q AS (
        |  SELECT doc_id, fp,
        |   (CASE WHEN n_tok >= 20 THEN 1 ELSE 0 END +
        |    CASE WHEN n_nonspace / n_tok >= 3.0 AND n_nonspace / n_tok <= 8.0 THEN 1 ELSE 0 END +
        |    CASE WHEN stop_n / n_tok > 0.01 THEN 1 ELSE 0 END) AS quality_score,
        |   CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 < 80 THEN 'train'
        |        WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 < 90 THEN 'val'
        |        ELSE 'test' END AS split
        |  FROM m),
        |cur AS (
        |  SELECT * FROM (
        |    SELECT *, min(doc_id) OVER (PARTITION BY fp) AS keep_id
        |    FROM q WHERE doc_id % 3 <> 0)
        |  WHERE doc_id = keep_id AND quality_score >= 2),
        |inc AS (
        |  SELECT * FROM (
        |    SELECT *, min(doc_id) OVER (PARTITION BY fp) AS keep_id
        |    FROM q WHERE doc_id % 3 = 0)
        |  WHERE doc_id = keep_id AND quality_score >= 2),
        |newdocs AS (
        |  SELECT * FROM inc WHERE fp NOT IN (SELECT fp FROM cur)),
        |final AS (
        |  SELECT split, fp FROM cur
        |  UNION ALL SELECT split, fp FROM newdocs)
        |SELECT split, CAST(count(*) AS BIGINT) AS n,
        | CAST(count(DISTINCT fp) AS BIGINT) AS n_fp
        |FROM final GROUP BY 1""".stripMargin,

    "q120_tx_identity" ->
      """SELECT
        | CAST((SELECT count(*) FROM customer) + (SELECT count(*) FROM orders) AS BIGINT) AS n_rows,
        | CAST((SELECT count(*) FROM customer) + (SELECT count(*) FROM orders) AS BIGINT) AS n_ids,
        | CAST((SELECT min(c_custkey) FROM customer) AS BIGINT) AS id_min,
        | CAST((SELECT max(c_custkey) FROM customer)
        |   + (SELECT count(*) FROM orders) AS BIGINT) AS id_max""".stripMargin,

    "q119_tx_drop_column" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        | CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total
        |FROM orders GROUP BY 1""".stripMargin,

    "q118_tx_generated" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        | CAST(count(*) AS BIGINT) AS n,
        | CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total
        |FROM orders GROUP BY 1""".stripMargin,

    "q93_tx_merge" -> mergeOracle,
    // same oracle: DV merge is the same CDC fold, minus the rewrites
    "q117_tx_dv_merge" -> mergeOracle,

    "q94_tx_skipping" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        | CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate <= TIMESTAMP '1996-12-31 23:59:59.999'
        |GROUP BY 1""".stripMargin,

    "q95_tx_compact" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        | CAST(count(*) AS BIGINT) AS n,
        | CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total
        |FROM orders GROUP BY 1""".stripMargin,

    "q96_tx_delete" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        | CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total
        |FROM orders
        |WHERE NOT (o_orderdate < TIMESTAMP '1995-01-01 00:00:00')
        |GROUP BY 1""".stripMargin,

    "q97_tx_update" -> updateOracle,
    // same oracle: the DV path must be semantically indistinguishable
    "q116_tx_dv_update" -> updateOracle,

    "q98_tx_changefeed" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        | CAST(count(*) AS BIGINT) AS n,
        | CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total
        |FROM orders
        |WHERE year(o_orderdate) >= 1996
        |GROUP BY 1""".stripMargin,

    "q99_sql_tx" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        | CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total
        |FROM orders GROUP BY 1""".stripMargin,

    "q104_format_rw" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        | CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total
        |FROM orders GROUP BY 1""".stripMargin,

    "q100_tx_evolve" ->
      """SELECT CASE WHEN year(o_orderdate) >= 1996 THEN o_orderstatus END
        |   AS o_orderstatus,
        | CAST(count(*) AS BIGINT) AS n,
        | CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total
        |FROM orders GROUP BY 1""".stripMargin,

    "q101_tx_cdf" ->
      """WITH o AS (
        |  SELECT o_orderstatus,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price,
        |    o_orderdate
        |  FROM orders),
        |f AS (
        |  SELECT 'insert' AS _change_type, price FROM o
        |  WHERE year(o_orderdate) >= 1997
        |  UNION ALL
        |  SELECT 'delete', price FROM o WHERE o_orderstatus = 'F'
        |  UNION ALL
        |  SELECT 'update_preimage', price FROM o WHERE o_orderstatus = 'P'
        |  UNION ALL
        |  SELECT 'update_postimage', price * 2 FROM o WHERE o_orderstatus = 'P')
        |SELECT _change_type, CAST(count(*) AS BIGINT) AS n,
        | CAST(round(sum(CAST(price AS DECIMAL(12,2))), 2) AS DOUBLE) AS total
        |FROM f GROUP BY 1""".stripMargin,

    "q102_tx_restore" ->
      """WITH o AS (
        |  SELECT o_orderstatus,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price,
        |    o_orderdate
        |  FROM orders)
        |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        | CAST(round(sum(CAST(price AS DECIMAL(12,2))), 2) AS DOUBLE) AS total,
        | (SELECT CAST(count(*) AS BIGINT) FROM o
        |  WHERE year(o_orderdate) >= 1997) AS bad_rows
        |FROM o WHERE year(o_orderdate) < 1997 GROUP BY 1""".stripMargin,

    "q105_tx_stats" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        | min(o_orderkey) AS o_orderkey_min,
        | max(o_orderkey) AS o_orderkey_max,
        | CAST(min(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS price_min,
        | CAST(max(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS price_max,
        | CAST(count(*) - count(o_totalprice) AS BIGINT) AS price_nulls,
        | strftime(min(o_orderdate), '%Y-%m-%d') AS date_min,
        | strftime(max(o_orderdate), '%Y-%m-%d') AS date_max
        |FROM orders""".stripMargin,

    "q106_tx_metaagg" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(count(o_totalprice) AS BIGINT) AS n_price,
        | min(o_orderkey) AS key_min,
        | max(o_orderkey) AS key_max,
        | CAST(min(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS price_min,
        | CAST(max(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS price_max,
        | strftime(min(o_orderdate), '%Y-%m-%d') AS date_min,
        | strftime(max(o_orderdate), '%Y-%m-%d') AS date_max
        |FROM orders""".stripMargin,

    "q107_tx_partitioned" ->
      """WITH base AS (
        |  SELECT *, CAST(year(o_orderdate) AS INT) AS o_year FROM orders),
        |final AS (
        |  SELECT * FROM base WHERE o_year NOT IN (1995, 1998)
        |  UNION ALL
        |  SELECT * FROM base
        |  WHERE o_year = 1995 AND o_orderpriority = '1-URGENT')
        |SELECT o_year, CAST(count(*) AS BIGINT) AS n,
        | CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total
        |FROM final GROUP BY 1""".stripMargin,

    "q109_tx_sql_skipping" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        | CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total
        |FROM orders
        |WHERE o_custkey >= 100 AND o_custkey <= 400
        |GROUP BY 1""".stripMargin,

    "q134_tx_dfp" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        | CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'MACHINERY' AND c_custkey <= 300
        |GROUP BY 1""".stripMargin,

    "q135_tx_copy_into" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        | CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total
        |FROM orders GROUP BY 1""".stripMargin,

    "q137_tx_dfp_sql" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        | CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total
        |FROM orders
        |WHERE o_custkey IN (
        |  SELECT c_custkey FROM customer
        |  WHERE c_mktsegment = 'BUILDING' AND c_custkey <= 400)
        |GROUP BY 1""".stripMargin,

    "q138_tx_readd" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(CASE WHEN o_orderkey % 2 <> 0 THEN o_orderkey % 3 END) AS BIGINT) AS flag_sum,
        | CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total
        |FROM orders GROUP BY 1""".stripMargin,

    "q139_tx_dfp_wide" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        | CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_custkey BETWEEN 100 AND 1200
        |GROUP BY 1""".stripMargin,

    "q142_tx_default" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(CASE WHEN o_orderkey % 2 = 0 THEN o_orderkey % 5
        |   ELSE 7 END) AS BIGINT) AS flag_sum,
        | CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total
        |FROM orders GROUP BY 1""".stripMargin,

    "q141_tx_symlink" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        | CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total
        |FROM orders WHERE o_orderkey % 10 <> 3 GROUP BY 1""".stripMargin,

    "q144_tx_deep_clone" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        | CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total
        |FROM orders WHERE o_orderkey % 7 <> 2 GROUP BY 1""".stripMargin,

    "q143_tx_gen_derive" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        | CAST(count(*) AS BIGINT) AS n,
        | CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND o_orderdate <= TIMESTAMP '1996-12-31 23:59:59.999'
        |GROUP BY 1""".stripMargin,

    "q140_tx_widen" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(CASE WHEN o_orderkey % 2 = 0 THEN o_orderkey
        |   ELSE o_orderkey + 3000000000 END) AS BIGINT) AS key_sum,
        | CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total
        |FROM orders GROUP BY 1""".stripMargin,

    "q136_tx_purge" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        | CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total
        |FROM orders
        |WHERE NOT (o_orderpriority = '1-URGENT' AND o_custkey <= 500)
        |GROUP BY 1""".stripMargin,

    "q108_partition_ivm" ->
      """WITH o AS (
        |  SELECT o_orderpriority,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price,
        |    CAST(year(o_orderdate) AS INT) AS o_year
        |  FROM orders),
        |f AS (
        |  SELECT * FROM o WHERE o_year NOT IN (1995, 1998)
        |  UNION ALL
        |  SELECT * FROM o
        |  WHERE o_year = 1995 AND o_orderpriority = '1-URGENT')
        |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        | CAST(round(sum(CAST(price AS DECIMAL(12,2))), 2) AS DOUBLE) AS total
        |FROM f GROUP BY 1""".stripMargin,

    "q103_tx_ivm" ->
      """WITH o AS (
        |  SELECT o_orderstatus,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price
        |  FROM orders WHERE year(o_orderdate) <= 1996),
        |f AS (
        |  SELECT o_orderstatus,
        |    CASE WHEN o_orderstatus = 'P' THEN price * 2 ELSE price END AS price
        |  FROM o WHERE o_orderstatus <> 'F')
        |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        | CAST(round(sum(CAST(price AS DECIMAL(12,2))), 2) AS DOUBLE) AS total
        |FROM f GROUP BY 1""".stripMargin,

    // the CASE-driven from-scratch recompute of every MERGE clause:
    // matched rows route through the ordered WHEN branches, source-only
    // rows insert, target-only rows take the by-source update
    "q123_merge_into" ->
      """WITH perCust AS (
        |  SELECT o_custkey AS k,
        |    CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total,
        |    count(*) AS cnt
        |  FROM orders GROUP BY 1),
        |src AS (
        |  SELECT * FROM perCust
        |  UNION ALL
        |  SELECT k + 10000000, total, cnt FROM perCust WHERE cnt > 28),
        |tgt AS (
        |  SELECT c_custkey AS k,
        |    CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS bal,
        |    c_mktsegment AS seg
        |  FROM customer)
        |SELECT COALESCE(t.k, s.k) AS k,
        |  CASE WHEN t.k IS NOT NULL AND s.k IS NOT NULL THEN
        |         CASE WHEN s.total > 100000 THEN t.bal + s.total ELSE t.bal END
        |       WHEN t.k IS NULL THEN s.total
        |       ELSE t.bal END AS bal,
        |  CASE WHEN t.k IS NOT NULL AND s.k IS NOT NULL THEN t.seg
        |       WHEN t.k IS NULL THEN 'NEW'
        |       ELSE 'NOORDERS' END AS seg
        |FROM tgt t FULL OUTER JOIN src s ON t.k = s.k
        |WHERE NOT (t.k IS NOT NULL AND s.k IS NOT NULL AND s.cnt > 25)""".stripMargin,

    // the DELETE -> UPDATE -> MERGE lifecycle as chained CTEs
    "q124_sql_dml" ->
      """WITH base AS (
        |  SELECT * FROM orders WHERE year(o_orderdate) >= 1994),
        |upd AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice,
        |    CASE WHEN o_orderstatus = 'F' THEN '0-RECLASSIFIED'
        |         ELSE o_orderpriority END AS o_orderpriority
        |  FROM base),
        |merged AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice,
        |    CASE WHEN o_orderkey % 97 = 0 THEN '9-MERGED'
        |         ELSE o_orderpriority END AS o_orderpriority
        |  FROM upd
        |  WHERE NOT (o_orderkey % 97 = 0 AND o_orderstatus = 'O')),
        |subdel AS (
        |  SELECT * FROM merged WHERE NOT (o_orderkey % 101 = 0))
        |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        | CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total
        |FROM subdel GROUP BY 1""".stripMargin)
}
