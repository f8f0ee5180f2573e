package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.LakeAnalytics
import graft.sources.{LakeDml, LakeIndex, LogSync, Tables}

/** Keep-set pruning reaches the scan: every manifest-pruned read opens
  * exactly the files its prune count reports as kept — the file filter
  * is evaluated in the listing, not as a row filter over a full scan.
  */
class LakeScanPruneSpec extends SparkSpec {

  /** An unpartitioned lake of one file per (day, service): 4 days × 2
    * services, each file's rows inside its own day, so the timestamp
    * and service zone maps separate them. Day 3 / service b bodies
    * carry a token no other file has.
    */
  private def mkLake(): String = {
    val root = Files.createTempDirectory("graft_scanprune").toString
    for (d <- 1 to 4; svc <- Seq("a", "b")) {
      Tables.events(spark, sf).orderBy(col("event_id")).limit(30)
        .select(
          timestamp_seconds(lit(java.time.LocalDate.of(2024, 1, d)
            .atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond) +
            col("event_id") % 3600).as("timestamp"),
          lit(svc).as("service_name"),
          col("event_type").as("severity_text"),
          concat(lit(s"$d$svc-"), col("event_id")).as("span_id"),
          (if (d == 3 && svc == "b") lit("""{"marker": rareterm}""") else col("props")).as("body"))
        .coalesce(1).write.mode("append").parquet(root)
    }
    LogSync.sync(spark, root)
    root
  }

  private def registered(root: String): Long =
    LogSync.manifest(spark, root).filter(col("removed_at").isNull).count()

  private def assertReads(df: DataFrame, root: String, kept: Long, what: String): Unit = {
    val read = lakeFilesRead(df, root)
    assert(read == kept, s"$what opened $read files, its keep-set holds $kept")
  }

  test("manifest and sidecar keep-sets prune the scan itself, also after a CoW rewrite") {
    val root = mkLake()
    LakeIndex.build(spark, root, "span_id")
    LakeIndex.buildTokens(spark, root, "body")
    // copy-on-write: the rewritten day-1/a file is tombstoned but stays
    // on disk (and in the root listing) until vacuum
    assert(LakeDml.delete(spark, root, col("span_id") === "1a-0").filesRemoved == 1)
    val onDisk = Files.list(java.nio.file.Paths.get(root)).toArray
      .count(_.toString.endsWith(".parquet"))
    assert(registered(root) == 8 && onDisk == 9)
    LakeIndex.build(spark, root, "span_id")
    LakeIndex.buildTokens(spark, root, "body")

    assertReads(LogSync.table(spark, root), root, 8, "table")

    val (tk, tt) = LogSync.statsPruneCounts(spark, root, "2024-01-02", "2024-01-03")
    assert(tk == 2 && tt == 8, s"zone maps keep day 2's two files: $tk/$tt")
    assertReads(LogSync.tableBetween(spark, root, "2024-01-02", "2024-01-03"), root, tk,
      "tableBetween")

    val (fk, _) = LogSync.forPruneCounts(spark, root, "a", "2024-01-01", "2024-01-03")
    assert(fk == 2, s"service a over days 1-2: $fk files")
    assertReads(LogSync.tableFor(spark, root, "a", "2024-01-01", "2024-01-03"), root, fk,
      "tableFor")

    val needle = Seq("4b-7")
    val (lk, _) = LakeIndex.pruneCounts(spark, root, "span_id", needle)
    assert(lk < 8, s"the bloom must prune the lookup: kept $lk")
    val lookup = LakeIndex.lookup(spark, root, "span_id", needle)
    assertReads(lookup, root, lk, "lookup")
    assert(lookup.count() == 1)

    val (gk, _) = LakeIndex.grepPruneCounts(spark, root, "body", Seq("rareterm"))
    assert(gk < 8, s"the token bloom must prune the grep: kept $gk")
    val grep = LakeIndex.grep(spark, root, "body", Seq("rareterm"))
    assertReads(grep, root, gk, "grep")
    assert(grep.count() == 30)

    // a grep nothing survives is an empty frame with the table's schema
    val none = LakeIndex.grep(spark, root, "body", Seq("zzznope"))
    assert(none.count() == 0)
    assert(none.schema == LogSync.table(spark, root).schema)

    // registries past the driver byte cap: the sidecar probe is the
    // distributed join and the keep-set a collected frame — same
    // files opened, same rows
    def rows(df: DataFrame) = df.select("span_id").collect().map(_.getString(0)).sorted.toSeq
    val (lookupRows, grepRows) = (rows(lookup), rows(grep))
    spark.conf.set("graft.lake.registryDriverCacheMaxBytes", "0")
    try {
      assert(LakeIndex.pruneCounts(spark, root, "span_id", needle)._1 == lk)
      assert(LakeIndex.grepPruneCounts(spark, root, "body", Seq("rareterm"))._1 == gk)
      val l2 = LakeIndex.lookup(spark, root, "span_id", needle)
      val g2 = LakeIndex.grep(spark, root, "body", Seq("rareterm"))
      assertReads(l2, root, lk, "distributed-probe lookup")
      assertReads(g2, root, gk, "distributed-probe grep")
      assert(rows(l2) == lookupRows && rows(g2) == grepRows)
    } finally spark.conf.unset("graft.lake.registryDriverCacheMaxBytes")
  }

  test("a layout-flipped root prunes every generation's scan") {
    // two directory generations (hourly + daily) under one root: the
    // read is a union of per-generation scans, and each one applies
    // the keep-set in its own listing
    val root = LakeAnalytics.specEvolveRoot(spark, sf)
    val all = LogSync.table(spark, root)
    assertReads(all, root, registered(root), "table")
    assert(lakeScans(all, root).size == 2, "one scan per layout generation")

    val (kept, total) = LogSync.statsPruneCounts(spark, root, "2024-01-11", "2024-01-12")
    assert(kept > 0 && kept < total, s"a 1-day window must skip files: $kept/$total")
    assertReads(LogSync.tableBetween(spark, root, "2024-01-11", "2024-01-12"), root, kept,
      "tableBetween")
  }
}
