package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** SURVEY.md §2 groups A (scan/sink), B (filter/project), C (join),
  * F (scalar), G (sort/limit) re-expressed over the driver star schema.
  *
  * Reference semantics being reproduced are cited per query
  * (file:line into /root/reference).
  *
  * Scale stance: every query here is a declarative single-pass plan —
  * filters/projections reach the parquet scan (PushedFilters/ReadSchema),
  * dimension joins are broadcast, nothing collects on the fact path.
  */
object RelationalQueries {

  /** Scratch-layout cache key for the write-once zo1/or1 rewrites: the
    * MD5 of the sf dir path (collision-free, unlike a lossy sanitization
    * or a 32-bit hashCode) plus the source table's mtime/size, so a
    * regenerated testdata dir invalidates the cached layout instead of
    * serving stale rows. A missing source file fails fast here rather
    * than minting a degenerate `_0_0` key and a confusing read error
    * downstream. */
  private[graft] def cacheKey(dir: String, table: String): String = {
    val f = new java.io.File(dir, table)
    require(f.exists, s"cacheKey: missing source ${f.getPath}")
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString
    s"${md}_${f.lastModified}_${f.length}"
  }

  /** Reap stale scratch layouts under `root` before writing `key`: any
    * sibling for the SAME source dir (same MD5 prefix, different
    * mtime/size — a testdata regen), any key not in the current
    * md5_digits_digits format (legacy hashCode keys no code can read),
    * and any DIFFERENT-prefix valid-format dir untouched for 14+ days.
    * The age clause (ADVICE r10) reaps layouts stranded by a key-FORMAT
    * migration — e.g. pre-r10 bkKeys folded mtime/len/buckets into the
    * md5 prefix, so their prefix matches no sf dir's md5 and neither
    * other clause ever fires; by construction nothing can enumerate
    * every sf dir to tell "stranded" from "other live sf dir", but a
    * live layout that goes unused for two weeks is safe to reap anyway —
    * the write-if-missing build rebuilds it on next use. Layouts for
    * OTHER sf dirs (different MD5, recent) are kept, so the steady-state
    * invariant stays one layout per (scratch root, sf dir). Idempotent
    * and cheap — a listFiles over a root holding a handful of layouts.
    *
    * Age is measured by dir mtime, which parquet/ORC READS never bump —
    * so every layout USE must call [[touchLayout]] (all four layout
    * queries do, on both the build and reuse paths): without the touch,
    * a live other-sf-dir layout that is only ever read would hit the 14-
    * day clause and be reaped mid-lifetime by the next cross-sf build. */
  private[graft] def gcStaleLayouts(root: String, key: String): Unit = {
    val keyRe = "^[0-9a-f]{32}_\\d+_\\d+$".r
    val md5 = key.take(32)
    val maxAgeMs = 14L * 24 * 3600 * 1000
    val now = System.currentTimeMillis()
    val dir = new java.io.File(root)
    Option(dir.listFiles()).getOrElse(Array.empty).foreach { child =>
      val n = child.getName
      val stale = n != key &&
        (n.startsWith(md5) || keyRe.findFirstIn(n).isEmpty ||
          now - child.lastModified() > maxAgeMs)
      if (stale) deleteRecursively(child)
    }
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** Mark a scratch layout as in-use: bump its key-dir mtime so
    * gcStaleLayouts' 14-day disuse clause never reaps a layout that is
    * actively read (reads alone never update a directory's mtime).
    * Called on every use — build and cached — by all layout queries. */
  private[graft] def touchLayout(path: String): Unit = {
    // setLastModified can fail (permissions, some mounts); when it does,
    // gcStaleLayouts' 14-day disuse clause may later reap a layout that is
    // actively read by a concurrent JVM (read error, self-healing via the
    // write-if-missing rebuild). Warn so such a reap is diagnosable.
    if (!new java.io.File(path).setLastModified(System.currentTimeMillis()))
      System.err.println(
        s"[graft] touchLayout: setLastModified failed for $path — the " +
          "14-day gc clause may reap this layout while in use")
  }

  /** The write-if-missing scratch-layout discipline in ONE place (r14
    * review: zo1/or1/pp/ss4/ss5/sd2b each hand-rolled the same
    * check→gc→build→touch block and their freshness sentinels had
    * already started to drift): if any `sentinels` path (relative to
    * `root/key`) is missing, gc stale sibling keys and run `build(path)`;
    * ALWAYS touch (both branches — reads never bump mtime, see
    * [[touchLayout]]). A build that needs a completion marker beyond the
    * writers' own `_SUCCESS` files (ss5's append) lists the marker as a
    * sentinel and creates it at the end of `build`. bk1 stays hand-rolled:
    * its reuse branch must re-register external tables, which this
    * shape's "do nothing when fresh" contract cannot express. */
  private[graft] def ensureLayout(root: String, key: String,
      sentinels: Seq[String])(build: String => Unit): String = {
    val path = s"$root/$key"
    if (!sentinels.forall(s0 => new java.io.File(path, s0).exists())) {
      gcStaleLayouts(root, key)
      // a sentinel-less key dir is a PARTIAL layout (crash mid-build —
      // e.g. ss5 between its append and its marker). Clear it OURSELVES
      // rather than trusting the builder's overwrite semantics: under
      // spark.sql.sources.partitionOverwriteMode=dynamic (a user session
      // config) a partitioned rebuild replaces only the partitions
      // present in the new data, and stale rows in other partition dirs
      // would survive — double-storing ids (r14 ADVICE). Local java.io is
      // right here: ensureLayout IS the local-scratch discipline (roots
      // under /tmp); cluster-scale layouts manage their own lifecycle
      // via the Ann append/compact protocol.
      deleteRecursively(new java.io.File(path))
      build(path)
    }
    touchLayout(path)
    path
  }

  /** A2 — parquet scan of a cached/staged table (vital_status_DESeq.R:25-26). */
  private val a2 = Q(
    "a2_scan_cache",
    (s, d) => Tables.region(s, d).select($("r_regionkey"), $("r_name")),
    Some("SELECT r_regionkey, r_name FROM region"))

  /** ZO1 — Z-order clustering round trip with a 2-D box scan
    * ([[graft.sources.Zorder]], SURVEY §2 X layout family): orders is
    * rewritten ONCE per sf dir as 16 Morton-clustered parquet files
    * (quantile-bucketed (o_totalprice, o_custkey) ranks, bit-interleaved,
    * range-partitioned — the Delta/Iceberg OPTIMIZE ZORDER shape), then a
    * price × custkey box predicate scans it back. The box result is
    * LAYOUT-INDEPENDENT, so the oracle simply replays the predicate on
    * the original table — while the plan-level payoff (most files
    * skipped from footer stats alone) is asserted on this query's
    * executed `numFiles` metric in PlanSpec. The rewrite is write-if-
    * missing: re-verification and bench measure the pruned SCAN, the
    * one-off clustering cost is the ingest-time price any clustered
    * layout pays. */

  /** Names of the queries whose FIRST run on a dir performs a one-off
    * write-if-missing layout rewrite (z-order / ORC). Lives HERE, next
    * to those queries, so adding or renaming one cannot silently desync
    * the benchmark's pre-warm pass (`Bench` pays these ingest costs
    * before its timed window opens — on a clean machine the gate wipes
    * /tmp/graft_*, and an unwarmed layout write would otherwise be
    * charged to the scan query: observed 0.16 s → 2.38 s on zo1). */
  val layoutWriterQueries: Set[String] =
    Set("zo1_zorder_prune", "or1_orc_interchange",
      "pp1_partition_prune", "pp2_dpp_join", "bk1_bucketed_join",
      "ss4_ann_index_scan", "ss5_ann_index_append",
      "ss6_ann_index_compact", "ss7_ann_index_delete",
      "sd2b_semantic_dedup_index")

  private val zo1 = Q(
    "zo1_zorder_prune",
    (s, d) => {
      val path = ensureLayout("/tmp/graft_zo1", cacheKey(d, "orders.parquet"),
          Seq("_SUCCESS")) { p =>
        graft.sources.Zorder.writeZordered(
          Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice"),
          p, Seq("o_totalprice", "o_custkey"), files = 16)
      }
      s.read.parquet(path)
        .filter(col("o_totalprice").between(100000.0, 150000.0) &&
          col("o_custkey").between(100L, 2000L))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    },
    Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
            WHERE o_totalprice BETWEEN 100000.0 AND 150000.0
              AND o_custkey BETWEEN 100 AND 2000"""))

  /** OR1 — ORC interchange under the oracle (SURVEY §2 X source family):
    * lineitem is written ONCE per sf dir as ORC — the other columnar
    * lake format Spark reads natively — and scanned back through a
    * ship-year predicate that must reach the ORC reader
    * (`PushedFilters`, asserted in PlanSpec along with ReadSchema
    * pruning). The result is layout-independent, so the oracle replays
    * the predicate on the original parquet table: one CORRECTNESS row
    * proves the whole write→read→pushdown path end to end, upgrading
    * the interchange from spec-only (SourcesSpec round trip) to
    * oracled. Write-if-missing, the zo1 stance. */
  private val or1 = Q(
    "or1_orc_interchange",
    (s, d) => {
      val path = ensureLayout("/tmp/graft_or1", cacheKey(d, "lineitem.parquet"),
          Seq("_SUCCESS")) { p =>
        Tables.lineitem(s, d)
          .select("l_orderkey", "l_linenumber", "l_shipdate", "l_extendedprice")
          .write.mode("overwrite").orc(p)
      }
      s.read.orc(path)
        .filter(col("l_shipdate").between("1996-01-01", "1996-12-31"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"),
          round(col("l_extendedprice"), 6).as("price"))
    },
    Some("""SELECT l_orderkey, l_linenumber, l_shipdate,
              round(l_extendedprice, 6) AS price
            FROM lineitem
            WHERE l_shipdate BETWEEN '1996-01-01' AND '1996-12-31'"""))

  /** Write-once month-partitioned layout shared by pp1/pp2: orders
    * rewritten under `o_month=yyyy-MM/` Hive-style directories (the
    * standard lake table shape at 100 TB — Tables.scala's "partition
    * pruning for free" claim, finally demonstrated rather than asserted),
    * plus a tiny `calendar` parquet dim (distinct months + quarter)
    * derived from the same data so pp2's dynamic-pruning probe is
    * deterministic and oracle-replayable. Write-if-missing, the zo1
    * stance: re-verification and bench measure the pruned SCAN, the
    * one-off partitioned write is the ingest-time price any partitioned
    * table pays. */
  private def ppLayout(s: SparkSession, d: String): String =
    ensureLayout("/tmp/graft_pp", cacheKey(d, "orders.parquet"),
        Seq("orders/_SUCCESS", "calendar/_SUCCESS")) { p =>
      val om = Tables.orders(s, d)
        .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
      om.write.mode("overwrite").partitionBy("o_month")
        .parquet(s"$p/orders")
      om.select(col("o_month").as("m")).distinct()
        .withColumn("q",
          expr("((cast(substring(m, 6, 2) as int) - 1) div 3) + 1"))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$p/calendar")
    }

  /** PP1 — STATIC directory-partition pruning: monthly revenue for one
    * year off the month-partitioned layout. The o_month bounds are
    * partition-DIRECTORY predicates — Spark's file index resolves them
    * against directory names alone, so only the 12 matching partitions'
    * files are ever listed into the scan (PartitionFilters + the pruned
    * numFiles are asserted in PlanSpec). At 100 TB this is the
    * difference between reading a year and reading the table. The
    * result is layout-independent, so the oracle replays the predicate
    * on the original orders table; revenue follows the ru1 decimal-sum
    * convention. */
  private val pp1 = Q(
    "pp1_partition_prune",
    (s, d) => {
      val p = ppLayout(s, d)
      s.read.parquet(s"$p/orders")
        .filter(col("o_month") >= "1996-01" && col("o_month") <= "1996-12")
        .groupBy(col("o_month").as("month"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice")
            .cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast("double").as("revenue"))
    },
    Some("""SELECT strftime(o_orderdate, '%Y-%m') AS month,
              CAST(count(*) AS BIGINT) AS n_orders,
              CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                AS revenue
            FROM orders
            WHERE strftime(o_orderdate, '%Y-%m')
              BETWEEN '1996-01' AND '1996-12'
            GROUP BY 1"""))

  /** PP2 — DYNAMIC partition pruning: quarterly-probe revenue where the
    * months to read are known only AFTER filtering the calendar dim
    * (q = 2), so no static predicate on the fact exists — the case
    * where, without DPP, a 100 TB partitioned fact is read in full to
    * join against a handful of dim rows. With the dim broadcast,
    * Catalyst injects the dim's surviving months as a dynamic partition
    * filter into the fact scan (`dynamicpruningexpression` in
    * PartitionFilters, asserted in PlanSpec along with the pruned
    * partition count): only Q2 directories are listed. The calendar is
    * derived deterministically from orders itself, so the oracle
    * replays the whole derivation relationally. */
  private val pp2 = Q(
    "pp2_dpp_join",
    (s, d) => {
      val p = ppLayout(s, d)
      val cal = s.read.parquet(s"$p/calendar").filter(col("q") === 2)
      s.read.parquet(s"$p/orders")
        .join(broadcast(cal), col("o_month") === col("m"))
        .groupBy(col("o_month").as("month"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice")
            .cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast("double").as("revenue"))
    },
    Some("""WITH cal AS (SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS m,
                ((CAST(substr(strftime(o_orderdate, '%Y-%m'), 6, 2) AS INT)
                  - 1) // 3) + 1 AS q
              FROM orders)
            SELECT strftime(o_orderdate, '%Y-%m') AS month,
              CAST(count(*) AS BIGINT) AS n_orders,
              CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                AS revenue
            FROM orders JOIN cal
              ON strftime(o_orderdate, '%Y-%m') = cal.m
            WHERE cal.q = 2
            GROUP BY 1"""))

  /** Write-once co-bucketed layout for bk1: orders and lineitem bucketed
    * by the order key into the same bucket count, as EXTERNAL tables
    * under /tmp/graft_bk (data outlives the writing JVM; a later session
    * re-attaches via DDL instead of re-bucketing). Table names embed the
    * layout cache key, so a regenerated testdata dir can never serve
    * stale buckets through a cached catalog entry.
    * @return (ordersTable, lineitemTable) catalog names, registered in
    *         the calling session */
  /** The bk1 layout cache key: `md5(sfDir)_h(orders,buckets)_h(lineitem)`.
    * gcStaleLayouts' contract constrains the SHAPE (ADVICE r9): the md5
    * prefix identifies the sf dir ALONE (gc reaps same-prefix siblings, so
    * a key whose prefix also folded freshness inputs would give a
    * regenerated layout a new prefix that never matches its stale
    * sibling, which then survives forever), and everything volatile —
    * both tables' mtime/len and the bucket-count constant — rides the two
    * numeric suffix fields: any regen or constant bump changes the suffix
    * under the SAME prefix and the old layout is reaped on the next
    * build. */
  private[graft] def bkKey(d: String, buckets: Int): String = {
    val or = new java.io.File(d, "orders.parquet")
    require(or.exists, s"bkLayout: missing source ${or.getPath}")
    val li = new java.io.File(d, "lineitem.parquet")
    require(li.exists, s"bkLayout: missing source ${li.getPath}")
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // 64-bit fields (md5-derived), not a 32-bit hash: a suffix collision
    // across a regen would silently re-attach the STALE layout under the
    // same key — the wrong-rows failure mode this key exists to prevent.
    // 2^-64 is negligible; 2^-32 over many regens/machines is not.
    def field(s: String): String = java.lang.Long.toUnsignedString(
      java.lang.Long.parseUnsignedLong(
        java.security.MessageDigest.getInstance("MD5")
          .digest(s.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString,
        16))
    s"${md}_${field(s"${or.lastModified}|${or.length}|buckets=$buckets")}" +
      s"_${field(s"${li.lastModified}|${li.length}")}"
  }

  private def bkLayout(s: SparkSession, d: String): (String, String) = {
    // the layout derives from BOTH tables and the bucket-count constant,
    // so the key covers all three (bkKey) — a key on lineitem alone would
    // silently re-attach stale orders buckets after an orders-only
    // testdata regen, or read 8-bucket files as 16-bucket after a
    // constant bump (wrong rows on an exchange-free SMJ, no error).
    val buckets = 8
    val key = bkKey(d, buckets)
    val root = s"/tmp/graft_bk/$key"
    val (to, tl) = (s"bk_orders_$key", s"bk_lineitem_$key")
    def ready(p: String) = new java.io.File(p, "_SUCCESS").exists()
    if (!ready(s"$root/orders") || !ready(s"$root/lineitem")) {
      gcStaleLayouts("/tmp/graft_bk", key)
      s.sql(s"DROP TABLE IF EXISTS $to")
      s.sql(s"DROP TABLE IF EXISTS $tl")
      graft.sources.Bucketing.writeBucketedExternal(
        Tables.orders(s, d).select("o_orderkey", "o_orderpriority"),
        to, "o_orderkey", buckets, s"$root/orders")
      graft.sources.Bucketing.writeBucketedExternal(
        Tables.lineitem(s, d)
          .select(col("l_orderkey").as("o_orderkey"), col("l_quantity")),
        tl, "o_orderkey", buckets, s"$root/lineitem")
    } else {
      graft.sources.Bucketing.registerBucketed(s, to,
        "o_orderkey BIGINT, o_orderpriority STRING",
        "o_orderkey", buckets, s"$root/orders")
      graft.sources.Bucketing.registerBucketed(s, tl,
        "o_orderkey BIGINT, l_quantity DOUBLE",
        "o_orderkey", buckets, s"$root/lineitem")
    }
    touchLayout(root)
    (to, tl)
  }

  /** BK1 — co-bucketed fact⋈fact join (X-R2's bucketed-table half made a
    * first-class catalog entry): orders and lineitem pre-bucketed by the
    * order key join with NO exchange on either side — each task reads
    * its matching bucket files directly, the shuffle paid ONCE at write
    * time instead of on every join. THE layout answer for a 100 TB fact
    * repeatedly joined on one key (c6 covers the skew answer; zo1/pp1
    * the pruning answers). Same aggregate as c6, so the oracle is the
    * plain two-table replay; the exchange-free plan shape is asserted
    * structurally in PlanSpec (no ShuffleExchange below the join under
    * the forced-SMJ regime; at small local sf the un-forced query may
    * legitimately broadcast instead — both plans produce these rows). */
  private val bk1 = Q(
    "bk1_bucketed_join",
    (s, d) => {
      val (to, tl) = bkLayout(s, d)
      graft.sources.Bucketing.cocolocatedJoin(s, tl, to, "o_orderkey")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("total_qty"))
    },
    Some("""SELECT o_orderpriority, count(*) AS n, sum(l_quantity) AS total_qty
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY o_orderpriority"""))

  /** B1 — NULL-drop row filter (vital_status_DESeq.R:29). The driver data has
    * no NULLs, so nulls are manufactured deterministically first (nullif),
    * then dropped — exercising 3-valued logic end to end. */
  private val b1 = Q(
    "b1_null_filter",
    (s, d) =>
      Tables.orders(s, d)
        .withColumn("status_n", expr("nullif(o_orderstatus, 'P')"))
        .filter(col("status_n").isNotNull)
        .select(col("o_orderkey"), col("status_n")),
    Some("""SELECT o_orderkey, nullif(o_orderstatus, 'P') AS status_n
            FROM orders WHERE nullif(o_orderstatus, 'P') IS NOT NULL"""))

  /** B2 — lockstep sample filter as a left-semi join: keep fact rows whose
    * dimension row survives the predicate (vital_status_DESeq.R:40). */
  private val b2 = Q(
    "b2_semi_filter",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val keep = Tables.orders(s, d).filter(col("o_orderstatus") === "F")
      li.join(keep, li("l_orderkey") === keep("o_orderkey"), "left_semi")
        .select(col("l_orderkey"), col("l_linenumber"))
    },
    Some("""SELECT l_orderkey, l_linenumber FROM lineitem
            WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')"""))

  /** B3 — inequality predicate (BRCA_path_stage_DESeq.R:45). */
  private val b3 = Q(
    "b3_not_equal",
    (s, d) =>
      Tables.part(s, d)
        .filter(col("p_type") =!= "ECONOMY")
        .select(col("p_partkey"), col("p_type")),
    Some("SELECT p_partkey, p_type FROM part WHERE p_type <> 'ECONOMY'"))

  /** B4 — IN-list membership, the reference's workhorse gene-of-interest
    * predicate (vital_status_DESeq.R:88). */
  private val b4 = Q(
    "b4_in_list",
    (s, d) =>
      Tables.part(s, d)
        .filter(col("p_brand").isin("Brand#1", "Brand#2", "Brand#3"))
        .select(col("p_partkey"), col("p_brand"), col("p_name")),
    Some("""SELECT p_partkey, p_brand, p_name FROM part
            WHERE p_brand IN ('Brand#1','Brand#2','Brand#3')"""))

  /** B5 — OR of memberships across two columns (drug_km_median_exp.R:50). */
  private val b5 = Q(
    "b5_or_membership",
    (s, d) =>
      Tables.events(s, d)
        .filter(col("event_type").isin("error", "signup") || col("props").like("%\"k\": 9%"))
        .select(col("event_id"), col("event_type"), col("props")),
    Some("""SELECT event_id, event_type, props FROM events
            WHERE event_type IN ('error','signup') OR props LIKE '%"k": 9%'"""))

  /** B6 — column projection (surv_analysis_median_exp.R:107). */
  private val b6 = Q(
    "b6_projection",
    (s, d) => Tables.customer(s, d).select("c_custkey", "c_name", "c_mktsegment"),
    Some("SELECT c_custkey, c_name, c_mktsegment FROM customer"))

  /** B7 — boolean-mask multi-column NULL drop (surv_analysis_median_exp.R:114-117). */
  private val b7 = Q(
    "b7_mask_filter",
    (s, d) =>
      Tables.events(s, d)
        .withColumn("v", expr("CASE WHEN value < 0.05 THEN NULL ELSE value END"))
        .filter(col("v").isNotNull && col("event_type").isNotNull)
        .select(col("event_id"), round(col("v"), 6).as("v")),
    Some("""SELECT event_id, round(v, 6) AS v FROM (
              SELECT event_id, event_type, CASE WHEN value < 0.05 THEN NULL ELSE value END AS v
              FROM events)
            WHERE v IS NOT NULL AND event_type IS NOT NULL"""))

  /** B8 — empty-string drop (drug_km_median_exp.R:40-41). */
  private val b8 = Q(
    "b8_empty_drop",
    (s, d) =>
      Tables.documents(s, d)
        .withColumn("frag", expr("CASE WHEN n_chars < 40 THEN '' ELSE lang END"))
        .filter(col("frag") =!= "")
        .select(col("doc_id"), col("frag")),
    Some("""SELECT doc_id, frag FROM (
              SELECT doc_id, CASE WHEN n_chars < 40 THEN '' ELSE lang END AS frag
              FROM documents)
            WHERE frag <> ''"""))

  /** B9 — row subset by group value (vital_status_DESeq.R:159-162). */
  private val b9 = Q(
    "b9_group_subset",
    (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_returnflag") === "A")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag")),
    Some("""SELECT l_orderkey, l_linenumber, l_returnflag FROM lineitem
            WHERE l_returnflag = 'A'"""))

  /** C1 — left outer equi-join, dim broadcast (vital_status_DESeq.R:116).
    * `broadcast()` pins the hash side so the fact table never shuffles —
    * the plan that survives 100× scale. */
  private val c1 = Q(
    "c1_join_broadcast",
    (s, d) =>
      Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"), "left")
        .select(col("c_custkey"), col("c_name"), col("n_name")),
    Some("""SELECT c_custkey, c_name, n_name FROM customer
            LEFT JOIN nation ON c_nationkey = n_nationkey"""))

  /** C2 — same join, reversed build side (lettercode_DESeq.R:116); AQE/stats
    * pick the broadcast side. */
  private val c2 = Q(
    "c2_join_reversed",
    (s, d) =>
      Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"), "left")
        .select(col("o_orderkey"), col("c_name"), round(col("o_totalprice"), 6).as("o_totalprice")),
    Some("""SELECT o_orderkey, c_name, round(o_totalprice, 6) AS o_totalprice FROM orders
            LEFT JOIN customer ON o_custkey = c_custkey"""))

  /** C3 — join on a derived/manufactured key (surv_analysis_median_exp.R:118-119):
    * the key is parsed out of a formatted name, then joined. */
  private val c3 = Q(
    "c3_join_derived_key",
    (s, d) => {
      val cust = Tables.customer(s, d)
        .withColumn("key_from_name", expr("CAST(substring(c_name, 10, 9) AS BIGINT)"))
      Tables.orders(s, d)
        .join(cust, col("o_custkey") === col("key_from_name"), "left")
        .select(col("o_orderkey"), col("c_name"))
    },
    Some("""SELECT o_orderkey, c_name FROM orders LEFT JOIN (
              SELECT c_name, CAST(substring(c_name, 10, 9) AS BIGINT) AS key_from_name
              FROM customer) c
            ON o_custkey = key_from_name"""))

  /** C4 — semi-join cohort restriction (drug_km_median_exp.R:55-56). */
  private val c4 = Q(
    "c4_semi_cohort",
    (s, d) => {
      val buyers = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey"))
      Tables.customer(s, d)
        .join(buyers, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
    },
    Some("""SELECT c_custkey, c_name FROM customer
            WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')"""))

  /** C5 — dictionary join replacing positional id→symbol rename
    * (vital_status_DESeq.R:109-113): fact keyed by surrogate id, joined to a
    * dim to expose the display name. */
  private val c5 = Q(
    "c5_dictionary_join",
    (s, d) =>
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_name"))
        .agg(sum(col("l_quantity")).as("total_qty"))
        .select(col("p_name"), col("total_qty")),
    Some("""SELECT p_name, sum(l_quantity) AS total_qty FROM lineitem
            JOIN part ON l_partkey = p_partkey GROUP BY p_name"""))

  /** C6 — salted fact×dim join (operators.Skew): each fact row gets one of
    * n salt buckets, the right side replicates n×, so no single task ever
    * owns an entire hot key — the explicit-salting half of the 100 TB skew
    * kit beside AQE's runtime split. Semantics provably equal the plain
    * join: the oracle IS the unsalted SQL join. */
  private val c6 = Q(
    "c6_salted_join",
    (s, d) =>
      graft.operators.Skew.saltedJoin(
          Tables.lineitem(s, d).select(col("l_orderkey"), col("l_quantity")),
          Tables.orders(s, d).select(col("o_orderkey").as("l_orderkey"),
            col("o_orderpriority")),
          "l_orderkey", saltBuckets = 8)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("total_qty")),
    Some("""SELECT o_orderpriority, count(*) AS n, sum(l_quantity) AS total_qty
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY o_orderpriority"""))

  /** F1–F4, F9 — scalar string/cast functions (toupper vital_status_DESeq.R:4,
    * paste :22, substr drug_km_median_exp.R:48, gsub BRCA_path_stage_DESeq.R:43-44,
    * as.numeric surv_analysis_median_exp.R:109). */
  private val fScalars = Q(
    "f1_f4_scalars",
    (s, d) =>
      Tables.part(s, d).select(
        col("p_partkey"),
        upper(col("p_name")).as("name_upper"),
        concat_ws("_", col("p_brand"), col("p_type")).as("brand_type"),
        substring(col("p_name"), 1, 5).as("name_prefix"),
        regexp_replace(regexp_replace(col("p_type"), "A|B|C", ""), " ", "_").as("type_recoded"),
        col("p_size").cast("double").as("size_dbl")),
    Some("""SELECT p_partkey,
              upper(p_name) AS name_upper,
              concat_ws('_', p_brand, p_type) AS brand_type,
              substring(p_name, 1, 5) AS name_prefix,
              regexp_replace(regexp_replace(p_type, 'A|B|C', '', 'g'), ' ', '_', 'g') AS type_recoded,
              CAST(p_size AS DOUBLE) AS size_dbl
            FROM part"""))

  /** F5 — significance banding with R NA→SQL NULL propagation
    * (vital_status_DESeq.R:93-97): a NULL padj must band to NULL, not '****'. */
  private val f5 = Q(
    "f5_signif_band",
    (s, d) =>
      Tables.orders(s, d)
        // lit(10000.0) keeps the division in DOUBLE (SQL-parsed `10000.0`
        // would be a DECIMAL literal and change the result type)
        .withColumn("padj", expr("nullif(o_orderkey % 10000, 9999)") / lit(10000.0))
        .withColumn(
          "p_signif",
          when(col("padj").isNull, lit(null))
            .when(col("padj") > 0.05, "ns")
            .when(col("padj") > 0.01, "*")
            .when(col("padj") > 0.001, "**")
            .when(col("padj") > 0.0001, "***")
            .otherwise("****"))
        .select(col("o_orderkey"), round(col("padj"), 6).as("padj"), col("p_signif")),
    Some("""SELECT o_orderkey, round(padj, 6) AS padj,
              CASE WHEN padj IS NULL THEN NULL
                   WHEN padj > 0.05 THEN 'ns'
                   WHEN padj > 0.01 THEN '*'
                   WHEN padj > 0.001 THEN '**'
                   WHEN padj > 0.0001 THEN '***'
                   ELSE '****' END AS p_signif
            FROM (SELECT o_orderkey, nullif(o_orderkey % 10000, 9999) / 10000.0 AS padj
                  FROM orders)"""))

  /** F6 — factor encode with explicit level order; out-of-level → NULL
    * (BRCA_path_stage_DESeq.R:47,60-62). `array_position` supplies the
    * level ordinal used for sorting/contrast direction. */
  private val f6 = Q(
    "f6_factor_levels",
    (s, d) => {
      val levels = Seq("1-URGENT", "2-HIGH", "3-MEDIUM")
      Tables.orders(s, d)
        .withColumn(
          "prio_factor",
          when(col("o_orderpriority").isin(levels: _*), col("o_orderpriority")))
        .withColumn(
          "prio_level",
          when(col("prio_factor").isNotNull,
            array_position(lit(levels.toArray), col("o_orderpriority"))))
        .select(col("o_orderkey"), col("prio_factor"), col("prio_level"))
    },
    Some("""SELECT o_orderkey,
              CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH','3-MEDIUM')
                   THEN o_orderpriority END AS prio_factor,
              CAST(CASE o_orderpriority WHEN '1-URGENT' THEN 1 WHEN '2-HIGH' THEN 2
                   WHEN '3-MEDIUM' THEN 3 END AS BIGINT) AS prio_level
            FROM orders"""))

  /** F7+F8+F9 — survival time/status construction (surv_analysis_median_exp.R:109-113):
    * binary event recode + conditional coalesce of two duration columns. */
  private val f7 = Q(
    "f7_f8_time_status",
    (s, d) =>
      Tables.orders(s, d)
        .withColumn("status", when(col("o_orderstatus") === "O", 1).otherwise(2))
        .withColumn("t_open", datediff(col("o_orderdate"), to_date(lit("1995-01-01"))))
        .withColumn("t_closed", datediff(to_date(lit("2002-01-01")), col("o_orderdate")))
        .withColumn("time",
          when(col("status") === 1, col("t_open")).otherwise(col("t_closed")).cast("double"))
        .select(col("o_orderkey"), col("status"), col("time")),
    Some("""SELECT o_orderkey,
              CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 2 END AS status,
              CAST(CASE WHEN o_orderstatus = 'O'
                   THEN date_diff('day', DATE '1995-01-01', o_orderdate)
                   ELSE date_diff('day', o_orderdate, DATE '2002-01-01')
                   END AS DOUBLE) AS time
            FROM orders"""))

  /** F10 — NA → empty-string fill at the export edge (vital_status_DESeq.R:174). */
  private val f10 = Q(
    "f10_na_fill",
    (s, d) =>
      Tables.orders(s, d)
        .withColumn("maybe", expr("nullif(o_orderstatus, 'P')"))
        .na.fill("", Seq("maybe"))
        .select(col("o_orderkey"), col("maybe")),
    Some("""SELECT o_orderkey, coalesce(nullif(o_orderstatus, 'P'), '') AS maybe
            FROM orders"""))

  /** G1 — deterministic global sort exposed as an explicit rank column
    * (vital_status_DESeq.R:92); the tiebreak key makes it reproducible.
    *
    * A no-partition `row_number` Window would pull the whole table through
    * ONE task — [[graft.operators.Ranks.rowNumber]] two-phase rank keeps
    * every task bounded by a range partition. */
  private val g1 = Q(
    "g1_order_by",
    (s, d) =>
      graft.operators.Ranks
        // project first: the scan is a custom plan node, and pruning
        // through it is not asserted anywhere — unprojected, all 9 part
        // columns could ride the range exchange
        .rowNumber(Tables.part(s, d).select("p_partkey", "p_name"),
          grp = Nil, order = Seq(col("p_name"), col("p_partkey")), out = "rn")
        .select(col("rn"), col("p_partkey"), col("p_name")),
    Some("""SELECT row_number() OVER (ORDER BY p_name, p_partkey) AS rn, p_partkey, p_name
            FROM part"""))

  /** G3 — head-n after explicit ordering (BRCA_subtype_DESeq.R:172). */
  private val g3 = Q(
    "g3_top_n",
    (s, d) =>
      Tables.orders(s, d)
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(4)
        .select(col("o_orderkey"), round(col("o_totalprice"), 6).as("o_totalprice")),
    Some("""SELECT o_orderkey, round(o_totalprice, 6) AS o_totalprice FROM orders
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 4"""))

  // ----------------------------------------------------- join extensions

  /** AN1 — anti join: customers with no 1995 order (the complement of
    * the C4 semi join — SURVEY §2.C notes the reference has no anti join;
    * the catalog covers it as a first-class join type anyway). Same
    * shuffle shape as a semi join: the probe side streams, the build
    * side is the (filtered) orders key set, no row widening; the year
    * filter pushes to the orders parquet scan. (Unfiltered, the result
    * is vacuously empty on this testdata — every customer orders.) */
  private val an1 = Q(
    "an1_anti_join",
    (s, d) => Tables.customer(s, d)
      .join(Tables.orders(s, d)
          .filter(year(col("o_orderdate")) === 1995).select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey")),
    Some("""SELECT c_custkey, c_name, c_nationkey FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey
                                AND year(o_orderdate) = 1995)"""))

  /** NA1 — NOT IN (subquery) through the SQL surface: customers with no
    * high-value 1996 order. Distinct from an1's NOT EXISTS: NOT IN has
    * tri-state NULL semantics (any NULL in the subquery empties the
    * result; a NULL probe key is dropped), so Catalyst cannot plan a
    * plain anti join — the rewritten condition is `key = k OR
    * isnull(key = k)`, whose naive physical shape is a
    * BroadcastNestedLoopJoin (disastrous at 100 TB: probe x build with
    * no hash). Spark's single-column rescue
    * (`spark.sql.optimizeNullAwareAntiJoin`) plans a BroadcastHashJoin
    * with isNullAwareAntiJoin=true instead — hash probe + one
    * build-side null flag; PlanSpec asserts that shape and the absence
    * of any nested-loop join. The high-value filter keeps the build
    * side bounded (NAAJ requires a broadcastable build; an unbounded
    * key set would fall back to the nested loop — at warehouse scale
    * you keep the subquery selective or rewrite to NOT EXISTS, whose
    * two-valued semantics shuffle-anti-join fine). Keys are non-null in
    * this data so NOT IN and NOT EXISTS agree on VALUES; the tri-state
    * edge itself is pinned by a constructed-frame test in JoinsSpec. */
  private val na1 = Q(
    "na1_notin_nullaware",
    (s, d) => {
      Tables.registerViews(s, d)
      s.sql("""SELECT c_custkey, c_name, c_nationkey FROM customer
               WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                                       WHERE year(o_orderdate) = 1996
                                         AND o_totalprice > 150000)""")
    },
    Some("""SELECT c_custkey, c_name, c_nationkey FROM customer
            WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                                    WHERE year(o_orderdate) = 1996
                                      AND o_totalprice > 150000)"""))

  /** SQ1 — correlated scalar subquery through the SQL surface: orders
    * costing more than 2x their customer's average. Catalyst DECORRELATES
    * this into an aggregate + join (RewriteCorrelatedScalarSubquery) —
    * the plan never executes per-row subqueries, which is the only shape
    * that survives 100 TB. The 2x margin keeps the predicate far from
    * float-boundary flips (avg association differs between engines at
    * ulp level; no order price sits within 1e-9 of exactly 2x an avg). */
  private val sq1 = Q(
    "sq1_scalar_subquery",
    (s, d) => {
      Tables.registerViews(s, d)
      s.sql("""SELECT o_orderkey, o_custkey, round(o_totalprice, 6) AS price
               FROM orders o
               WHERE o_totalprice > 2 * (SELECT avg(o2.o_totalprice)
                                         FROM orders o2
                                         WHERE o2.o_custkey = o.o_custkey)""")
    },
    Some("""SELECT o_orderkey, o_custkey, round(o_totalprice, 6) AS price
            FROM orders o
            WHERE o_totalprice > 2 * (SELECT avg(o2.o_totalprice)
                                      FROM orders o2
                                      WHERE o2.o_custkey = o.o_custkey)"""))

  private val rjWindowDays = 45
  private val rjStrideDays = 30
  private val rjWindows = 81 // covers the 1995-2001 order-date span

  /** RJ1 — interval/range join: orders against OVERLAPPING 45-day
    * campaign windows opening every 30 days (not expressible as
    * date_trunc — an order matches 1–2 windows). The window dim is
    * generated (81 rows) and BROADCAST; the non-equi join is a
    * BroadcastNestedLoopJoin whose inner loop is bounded by the window
    * count, the scalable shape while the dim side is small. At a larger
    * window count the play becomes bucketing both sides by stride and
    * joining bucket-to-bucket — same as the fz1 length bands. */
  private val rj1 = Q(
    "rj1_interval_join",
    (s, d) => {
      val base = to_date(lit("1995-01-01"))
      val win = s.range(rjWindows.toLong).select(col("id").as("window_id"),
        date_add(base, (col("id") * rjStrideDays).cast("int")).as("w_start"),
        date_add(base, (col("id") * rjStrideDays).cast("int") + rjWindowDays).as("w_end"))
      Tables.orders(s, d).select(col("o_orderkey"), col("o_orderdate"),
          col("o_totalprice"))
        .join(broadcast(win),
          col("o_orderdate") >= col("w_start") && col("o_orderdate") < col("w_end"))
        .groupBy("window_id")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
        .select(col("window_id"), col("n_orders"), col("revenue"))
    },
    Some(s"""WITH win AS (SELECT i AS window_id,
                 DATE '1995-01-01' + CAST(i * $rjStrideDays AS INT) AS w_start,
                 DATE '1995-01-01' + CAST(i * $rjStrideDays + $rjWindowDays AS INT) AS w_end
               FROM (SELECT unnest(range($rjWindows)) AS i)),
             j AS (SELECT win.window_id, o.o_totalprice
                   FROM orders o JOIN win
                     ON o.o_orderdate >= win.w_start AND o.o_orderdate < win.w_end)
             SELECT window_id, CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
             FROM j GROUP BY 1"""))

  private def $(c: String) = col(c)

  /** FO1 — full outer join: daily click counts vs daily purchase counts,
    * days missing on either side kept with 0. Day is the integer µs-epoch
    * day number on both engines (no timezone/date-codec hashing hazards).
    * Both inputs pre-aggregate to day cardinality, so the outer join is
    * tiny-vs-tiny regardless of corpus size — the scale-correct place
    * for an outer join is AFTER the reduction, never on the fact table. */
  private val fo1 = Q(
    "fo1_full_outer",
    (s, d) => {
      def daily(t: String) = Tables.events(s, d)
        .filter(col("event_type") === t)
        .select(expr(s"(${Tables.eventTsMicrosSql}) div 86400000000").as("day_num"))
        .groupBy("day_num").agg(count(lit(1)).as(s"n_$t"))
      daily("click").join(daily("purchase"), Seq("day_num"), "full_outer")
        .select(col("day_num"),
          coalesce(col("n_click"), lit(0L)).as("n_click"),
          coalesce(col("n_purchase"), lit(0L)).as("n_purchase"))
    },
    Some("""WITH c AS (SELECT epoch_us(ts) // 86400000000 AS day_num,
                         CAST(count(*) AS BIGINT) AS n_click
                       FROM events WHERE event_type = 'click' GROUP BY 1),
            p AS (SELECT epoch_us(ts) // 86400000000 AS day_num,
                    CAST(count(*) AS BIGINT) AS n_purchase
                  FROM events WHERE event_type = 'purchase' GROUP BY 1)
            SELECT coalesce(c.day_num, p.day_num) AS day_num,
                   coalesce(n_click, 0) AS n_click,
                   coalesce(n_purchase, 0) AS n_purchase
            FROM c FULL OUTER JOIN p ON c.day_num = p.day_num"""))

  /** SO1 — set operations: high-value clickers INTERSECT high-value
    * purchasers, EXCEPT users with a severe error. Spark's
    * intersect/except are DISTINCT-semantics set ops (planned as
    * left-semi/anti over aggregated inputs) — exactly ANSI
    * INTERSECT/EXCEPT. The value thresholds keep all three legs
    * discriminating on the driver testdata (every type alone covers
    * every user — an unthresholded version would be vacuous). */
  private val so1 = Q(
    "so1_intersect_except",
    (s, d) => {
      def users(t: String, minV: Double) = Tables.events(s, d)
        .filter(col("event_type") === t && col("value") > minV)
        .select("user_id")
      users("click", 90).intersect(users("purchase", 90))
        .except(users("error", 95))
    },
    Some("""(SELECT DISTINCT user_id FROM events
              WHERE event_type = 'click' AND value > 90
            INTERSECT
            SELECT DISTINCT user_id FROM events
              WHERE event_type = 'purchase' AND value > 90)
            EXCEPT
            SELECT DISTINCT user_id FROM events
              WHERE event_type = 'error' AND value > 95"""))

  /** JS1 — semi-structured extraction: parse the `props` JSON column with
    * a typed `from_json` schema (codegen'd Jackson parse, no UDF) and
    * aggregate the extracted field per event type. The JSON path is the
    * training-metadata shape (every doc/event carries a JSON blob whose
    * fields steer filtering) — parse ONCE into a typed column, then the
    * rest of the plan is ordinary columnar work. */
  private val js1 = Q(
    "js1_json_extract",
    (s, d) =>
      Tables.events(s, d)
        .select(col("event_type"),
          from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k INT"))
            .getField("k").as("k"))
        .groupBy("event_type")
        .agg(count(col("k")).as("n"),
          min(col("k")).as("k_min"), max(col("k")).as("k_max"),
          sum(col("k").cast("long")).as("k_sum")),
    Some("""SELECT event_type, CAST(count(k) AS BIGINT) AS n,
                   min(k) AS k_min, max(k) AS k_max,
                   CAST(sum(k) AS BIGINT) AS k_sum
            FROM (SELECT event_type,
                    CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
                  FROM events)
            GROUP BY event_type"""))

  def all: Seq[Q] = Seq(a2, zo1, or1, pp1, pp2, bk1, b1, b2, b3, b4, b5, b6, b7,
    b8, b9, c1, c2, c3, c4, c5, c6, an1, na1, sq1, rj1, fo1, so1, js1,
    fScalars, f5, f6, f7, f10, g1, g3)
}
