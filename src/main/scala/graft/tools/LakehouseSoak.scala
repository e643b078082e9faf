package graft.tools

import org.apache.spark.sql.functions._

import graft.Sessions
import graft.operators.Lakehouse

/**
 * Lakehouse lifecycle soak at a scale the unit specs don't reach: one
 * N-row z-clustered initial write, `appends` small-batch appends (the
 * frequent-ingest debris shape), a pruned-read correctness sweep
 * against full-scan truth at each lifecycle stage, then OPTIMIZE-style
 * compaction and the same sweep again. Prints one JSON line:
 * files before/after compaction, pruned-file fraction for a 10% key
 * range, sweep verdicts, and wall seconds per stage.
 *
 *   sbt "runMain graft.tools.LakehouseSoak 10000000 20 /tmp/graft-lh-soak"
 */
object LakehouseSoak {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 10000000L
    val appends = if (args.length > 1) args(1).toInt else 20
    val base = if (args.length > 2) args(2) else "/tmp/graft-lh-soak"
    val spark = Sessions.local(Sessions.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def mk(lo: Long, hi: Long) = spark.range(lo, hi).select(
      pmod(xxhash64(col("id")), lit(1000)).as("k"),
      col("id").as("t"),
      pmod(xxhash64(col("id") + 7), lit(100000)).cast("double").as("v"))
    val zCols = Seq("k", "t")
    val appendRows = math.max(1L, n / 100) // each append is ~1% of the base

    def timed[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }
    val (_, tWrite) = timed(Lakehouse.writeClustered(mk(0, n), base, zCols, files = 64))
    val (_, tAppend) = timed {
      for (i <- 0 until appends) {
        val lo = n + i * appendRows
        Lakehouse.appendClustered(mk(lo, lo + appendRows), base, zCols, files = 2)
      }
    }

    val totalRows = n + appends * appendRows
    def sweep(): Boolean = {
      val truth = mk(0, totalRows)
      Seq((0.0, 99.0), (400.0, 449.0), (990.0, 999.0)).forall { case (lo, hi) =>
        val pruned = Lakehouse.prunedRead(spark, base, "k", lo, hi)
        val expect = truth.filter(col("k") >= lo && col("k") <= hi)
        pruned.exceptAll(expect).isEmpty && expect.exceptAll(pruned).isEmpty
      }
    }
    val (okBefore, tSweep1) = timed(sweep())
    val (kept, filesBefore) = Lakehouse.selectFiles(spark, base, "k", 0, 99)
    // fold the append debris: threshold above the ~1%-batch file size,
    // below the 64 initial files' size (n/64 vs appendRows/2 = n/200)
    val ((compacted, written), tCompact) = timed(
      Lakehouse.compact(spark, base, zCols, minRows = n / 100, files = 4))
    // compact defers deletes for snapshot isolation; vacuum is the
    // maintenance pass that reclaims the superseded bytes
    val ((reclaimed, _), tVacuum) = timed(Lakehouse.vacuum(spark, base))
    val (keptAfter, filesAfter) = Lakehouse.selectFiles(spark, base, "k", 0, 99)
    val (okAfter, tSweep2) = timed(sweep())

    // COW merge at scale: wholesale-replace the first 10k ids with
    // IDENTICAL rows — files rewrite, row counts hold, and the sweep
    // still matching proves the rewrite lost nothing
    val vPreMutations = Lakehouse.latestVersion(spark, base)
    val upsBatch = math.min(10000L, totalRows)
    val ((upsFiles, upsReplaced, _), tUpsert) = timed(
      Lakehouse.upsertByKey(spark, base, mk(0, upsBatch), Seq("t"), files = 2))
    val (okUpsert, tSweep3) = timed(sweep())
    // COW delete at scale: one key band vanishes, the rest is untouched
    val ((delFiles, delRows), tDelete) = timed(
      Lakehouse.deleteWhere(spark, base, col("k") === 500, files = 2))
    val okDelete = {
      val got = Lakehouse.prunedRead(spark, base, "k", 495, 505)
      val exp = mk(0, totalRows)
        .filter(col("k") >= 495 && col("k") <= 505 && col("k") =!= 500)
      got.exceptAll(exp).isEmpty && exp.exceptAll(got).isEmpty
    }
    val rowsFinal = Lakehouse.readManifest(spark, base)
      .agg(sum(col("n_rows"))).head().getLong(0)
    // row-level CDF at scale: the mutation window's typed feed must
    // carry exactly the identity-upsert's postimages (no inserts — every
    // key existed) and the deleted band's rows, and the postimages must
    // BE the original rows (identity upsert) byte-for-byte
    val ((cdfPost, cdfIns, cdfDel, cdfExact), tCdf) = timed {
      graft.core.Materialize.cached(
          Lakehouse.changesDetailed(spark, base, vPreMutations)) { feed =>
        val byType = feed.groupBy(col("_change_type")).count()
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val post = feed.filter(col("_change_type") === "update_postimage")
          .drop("_change_type", "_version")
        val exact = post.exceptAll(mk(0, upsBatch)).isEmpty &&
          mk(0, upsBatch).exceptAll(post).isEmpty
        (byType.getOrElse("update_postimage", 0L),
          byType.getOrElse("insert", 0L),
          byType.getOrElse("delete", 0L), exact)
      }
    }

    def f(d: Double) = "%.1f".formatLocal(java.util.Locale.ROOT, d)
    println(s"""{"metric":"lakehouse_soak","rows":$totalRows""" +
      s""","appends":$appends,"files_before":$filesBefore""" +
      // the append debris (each small batch spans the whole key range)
      // drags the before-fraction up; the after-fraction is compaction
      // restoring prunability — the pair IS the argument for the
      // maintenance pass
      s""","pruned_fraction_before":${f(kept.size.toDouble / filesBefore)}""" +
      s""","compacted":$compacted,"compact_written":$written""" +
      s""","vacuum_reclaimed":$reclaimed""" +
      s""","upsert_files":$upsFiles,"upsert_replaced":$upsReplaced""" +
      s""","delete_files":$delFiles,"delete_rows":$delRows""" +
      s""","rows_final":$rowsFinal""" +
      s""","files_after":$filesAfter""" +
      s""","pruned_fraction_after":${f(keptAfter.size.toDouble / filesAfter)}""" +
      s""","sweep_exact_before":$okBefore,"sweep_exact_after":$okAfter""" +
      s""","sweep_exact_post_upsert":$okUpsert,"delete_exact":$okDelete""" +
      s""","write_sec":${f(tWrite)},"append_sec":${f(tAppend)}""" +
      s""","compact_sec":${f(tCompact)},"vacuum_sec":${f(tVacuum)}""" +
      s""","upsert_sec":${f(tUpsert)},"delete_sec":${f(tDelete)}""" +
      s""","cdf_postimages":$cdfPost,"cdf_inserts":$cdfIns""" +
      s""","cdf_deletes":$cdfDel,"cdf_postimages_exact":$cdfExact""" +
      s""","cdf_sec":${f(tCdf)}""" +
      s""","sweep_sec":[${f(tSweep1)},${f(tSweep2)},${f(tSweep3)}]}""")
    require(okBefore && okAfter, "pruned sweep drifted from full-scan truth")
    require(okUpsert, "identity upsert changed the data")
    require(okDelete, "COW delete drifted neighbors of the deleted band")
    require(rowsFinal == totalRows - delRows,
      s"row accounting broke: $rowsFinal != $totalRows - $delRows")
    require(cdfPost == upsReplaced && cdfIns == 0L && cdfDel == delRows,
      s"CDF feed counts drifted: post=$cdfPost (want $upsReplaced), " +
        s"ins=$cdfIns (want 0), del=$cdfDel (want $delRows)")
    require(cdfExact, "CDF postimages differ from the identity-upsert rows")
    spark.stop()
  }
}
