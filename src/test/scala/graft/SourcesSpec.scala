package graft

import graft.sources.Sources
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SourcesSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("binaryFile source returns the exact on-disk bytes (sha-256 vs filesystem read)") {
    val (name, sparkSha) = Sources.binaryFiles(spark, TestSpark.Sf0001, "documents.parquet")
      .select(substring_index(col("path"), "/", -1), sha2(col("content"), 256))
      .as[(String, String)].head()
    assert(name == "documents.parquet")
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(TestSpark.Sf0001, "documents.parquet"))
    val fsSha = java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
      .map("%02x".format(_)).mkString
    assert(sparkSha == fsSha)
  }

  test("CSV round-trip aggregate equals the source-table aggregate") {
    val viaCsv = Sources.csvRoundTrip(spark, TestSpark.Sf0001)
    val direct = Tables.orders(spark, TestSpark.Sf0001)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("o_totalprice")), 2).as("total"))
    assert(viaCsv.exceptAll(direct).count() == 0)
    assert(direct.exceptAll(viaCsv).count() == 0)
  }

  test("explicit-schema CSV scan preserves declared types") {
    val schema = Sources.csvRoundTrip(spark, TestSpark.Sf0001).schema
    assert(schema("cnt").dataType.typeName == "long")
    assert(schema("total").dataType.typeName == "double")
  }

  test("q81 schema evolution: explicit superset == mergeSchema reconciliation") {
    // the verb writes the two shard generations and reads via the
    // declared superset; re-read the same dirs with mergeSchema (the
    // footer-reconciling form) and pin relation equality
    val viaSuperset = Sources.schemaEvolutionRead(spark, TestSpark.Sf0001)
      .as[(String, Long, Long, Long)].collect().toSet
    val out = Sources.scratchDir(spark, "schema_evolution")
    val merged = spark.read.option("mergeSchema", "true")
      .parquet(s"$out/gen0", s"$out/gen1")
    assert(merged.schema.fieldNames.contains("source"),
      "mergeSchema must surface the evolved column")
    val viaMerge = merged
      .groupBy(coalesce(col("source"), lit("pre-evolution")).as("src"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc_id"),
        sum(length(col("text"))).cast("long").as("n_chars"))
      .as[(String, Long, Long, Long)].collect().toSet
    assert(viaSuperset == viaMerge)
    // pre-evolution rows exist and carry nulls, not fabricated values
    assert(viaSuperset.exists(_._1 == "pre-evolution"),
      "gen-0 rows must land in the pre-evolution bucket")
  }

  test("q90 partitioned layout: filter prunes at the file index, result is lossless") {
    val got = Sources.partitionedPrunedRead(spark, TestSpark.Sf0001)
      .as[(String, Long, Long, Long)].collect().toSet
    val want = Tables.documents(spark, TestSpark.Sf0001)
      .filter(col("lang") === "en")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).cast("long").as("n_chars"),
        min(col("doc_id")).as("min_doc_id"))
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got == want)
    // plan pin: the lang predicate must be a PartitionFilter on the scan
    // (pruned at the file index), not a post-scan Filter
    val out = Sources.scratchDir(spark, "partitioned_lang")
    val scan = spark.read.parquet(out).filter(col("lang") === "en")
    val formatted = scan.queryExecution.executedPlan.toString
    assert(formatted.contains("PartitionFilters") &&
      formatted.replaceAll("\\s", "").contains("PartitionFilters:[isnotnull(lang"),
      s"lang filter must prune partitions:\n$formatted")
    // and only the en partition's files are touched
    val files = scan.select(input_file_name()).distinct().as[String].collect()
    assert(files.nonEmpty && files.forall(_.contains("lang=en")), files.mkString(", "))
  }

  test("q91 merge upsert: update, insert, and carry-over fates all present and correct") {
    val rows = Sources.mergeUpsertSnapshot(spark, TestSpark.Sf0001)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val src = Tables.documents(spark, TestSpark.Sf0001)
      .select(col("doc_id"), length(col("text")).cast("long"))
      .as[(Long, Long)].collect().toMap
    src.keys.foreach { id =>
      val inBase = id % 3 != 0
      val inUpd = id % 2 == 0
      (inBase, inUpd) match {
        case (true, true) => // UPDATE: version 2, revised text (+7 chars)
          assert(rows(id) == (2L, src(id) + 7), s"doc $id update fate")
        case (true, false) => // CARRY-OVER: untouched v1 row
          assert(rows(id) == (1L, src(id)), s"doc $id carry-over fate")
        case (false, true) => // INSERT: update-only row lands at v2
          assert(rows(id) == (2L, src(id) + 7), s"doc $id insert fate")
        case (false, false) => // in neither input: absent from the snapshot
          assert(!rows.contains(id), s"doc $id should be absent")
      }
    }
    // v1 snapshot remains readable and untouched (immutable-snapshot story)
    val out = Sources.scratchDir(spark, "merge_snapshot")
    val v1 = spark.read.parquet(s"$out/v1")
    assert(v1.filter(col("version") =!= 1L).count() == 0)
  }

  test("q82 corrupt JSONL: PERMISSIVE quarantines and counts; FAILFAST aborts") {
    val agg = Sources.corruptJsonlIngest(spark, TestSpark.Sf0001)
      .as[(String, Long)].collect().toMap
    val docs = Tables.documents(spark, TestSpark.Sf0001)
    assert(agg("_corrupt_") ==
      docs.filter(col("doc_id") % 13 === 0).count(),
      "every damaged line must land in the quarantine bucket")
    assert(agg.values.sum == docs.count(), "no line may be dropped silently")
    // the same shards under FAILFAST: the reader aborts instead of
    // quarantining — proving the damage is real at the text layer
    val out = Sources.scratchDir(spark, "corrupt_jsonl")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("lang",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    intercept[org.apache.spark.SparkException] {
      spark.read.schema(schema).option("mode", "FAILFAST").json(out).collect()
    }
  }

  test("q155 jsonl shard export: manifest equals a driver-side replay of the assignment") {
    val target = 16384L
    val manifest = Sources.jsonlShardExport(spark, TestSpark.Sf0001, target)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, (r._2, r._3, r._4, r._5))).toMap
    // replay: exclusive running byte total div target, in doc_id order
    val docs = spark.read.parquet(s"${TestSpark.Sf0001}/documents.parquet")
      .select(col("doc_id"), length(col("text")).cast("long"))
      .as[(Long, Long)].collect().sortBy(_._1)
    var cum = 0L
    val want = docs.map { case (id, b) =>
      val s = cum / target; cum += b; (s, id, b)
    }.groupBy(_._1).map { case (s, rows) =>
      (s, (rows.length.toLong, rows.map(_._3).sum,
        rows.map(_._2).min, rows.map(_._2).max))
    }
    assert(manifest == want, s"manifest diverged: $manifest vs $want")
    // shards tile the doc_id order contiguously (a doc never splits)
    val sorted = manifest.toSeq.sortBy(_._1)
    sorted.sliding(2).foreach {
      case Seq((s1, m1), (s2, m2)) =>
        assert(s2 == s1 + 1 && m2._3 > m1._4,
          s"shards $s1->$s2 not contiguous")
      case _ =>
    }
  }

  test("q185 snapshot vacuum: old versions physically gone, kept versions intact, re-vacuum idempotent") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_vacuum").toString
    (1 to 4).foreach { v =>
      (0 until v * 10).map(i => (i.toLong, s"v$v doc $i"))
        .toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$root/version=$v")
    }
    (1 to 4).toDF("version").write.mode("overwrite").parquet(s"$root/_versions")
    val audit = graft.sources.Sources.vacuumAndAudit(spark, root, 2)
      .as[(Int, Boolean, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(audit(1)._2 == false && audit(2)._2 == false)
    val v3chars = (0 until 30).map(i => s"v3 doc $i".length.toLong).sum
    assert(audit(3) == ((3, true, 30L, v3chars)) && audit(4)._2 == true
      && audit(4)._3 == 40L)
    // physically gone vs physically intact
    assert(!new java.io.File(s"$root/version=1").exists())
    assert(!new java.io.File(s"$root/version=2").exists())
    assert(spark.read.parquet(s"$root/version=4").count() == 40L)
    // re-vacuum: deleting absent dirs is a no-op, audit unchanged
    val again = graft.sources.Sources.vacuumAndAudit(spark, root, 2)
      .as[(Int, Boolean, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(again == audit, "re-vacuum changed the audit")
    // a wider retention later cannot resurrect deleted versions: they
    // stay kept=false (the manifest remembers, the storage is gone)
    val wide = graft.sources.Sources.vacuumAndAudit(spark, root, 4)
      .as[(Int, Boolean, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(!wide(1)._2 && !wide(2)._2 && wide(3)._2 && wide(4)._2)
  }

  test("q194 bucketed snapshot diff: zero-Exchange sort-merge join, rows equal q100") {
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val bucketed = graft.sources.Sources
        .snapshotDiffBucketed(spark, TestSpark.Sf0001)
      val rows = bucketed.collect().map(_.toSeq).toSet
      val plain = graft.sources.Sources.snapshotDiff(spark, TestSpark.Sf0001)
        .collect().map(_.toSeq).toSet
      assert(rows == plain, "bucketing changed the diff rows")
      // the JOIN itself must be Exchange-free: pin the executed plan of
      // the diff tail over the already-written bucketed tables
      val tail = graft.sources.Sources.bucketedDiffJoin(spark)
      tail.collect()
      val exec = tail.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan.toString
        case p => p.toString
      }
      val exchanges = "(?m)Exchange hashpartitioning".r.findAllIn(exec).length
      // one exchange is the final 4-row status agg; the full-outer join
      // must contribute none
      assert(exchanges <= 1, s"bucketed diff join shuffled:\n$exec")
      assert(exec.contains("SortMergeJoin"), "expected a sort-merge join")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
  }

  test("q193 subject access report matches a driver recompute; null keys never reported") {
    val got = graft.sources.Sources.subjectAccessReport(spark, TestSpark.Sf0001)
      .as[(Long, Long, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    val ev = Tables.events(spark, TestSpark.Sf0001)
      .select(col("user_id"), unix_millis(col("ts")), col("event_type"))
      .as[(Long, Long, String)].collect()
    val want = ev.filter(_._1 % 13 == 3).groupBy(_._1)
    assert(got.keySet == want.keySet)
    want.foreach { case (u, xs) =>
      val (_, n, f, l, nt, np) = got(u)
      assert(n == xs.length && f == xs.map(_._2).min && l == xs.map(_._2).max)
      assert(nt == xs.map(_._3).distinct.length)
      assert(np == xs.count(_._3 == "purchase"))
    }
    // null-keyed rows belong to no subject: plant one and demand absence
    import java.sql.Timestamp
    val dirN = java.nio.file.Files.createTempDirectory("graft_sar").toString
    Seq((1L, Timestamp.valueOf("2024-01-01 00:00:00"), Some(3L), "view", 1.0, "{}"),
        (2L, Timestamp.valueOf("2024-01-01 00:01:00"), None, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dirN/events.parquet")
    val sar = graft.sources.Sources.subjectAccessReport(spark, dirN)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(sar.map(_._1).toSet == Set(3L), s"null key leaked into SAR: ${sar.toSeq}")
  }

  test("q177 right to erasure: erased users gone on disk, others byte-intact, tombstones count-only") {
    val erasureOut = java.nio.file.Files
      .createTempDirectory("graft_spec_erasure").toString
    val got = graft.sources.Sources
      .rightToErasureAt(spark, TestSpark.Sf0001, erasureOut)
      .as[(Long, Long, Long, Boolean)].collect()
    val ev = Tables.events(spark, TestSpark.Sf0001)
      .select(col("user_id")).as[Long].collect()
    val erased = ev.filter(_ % 13 == 0).groupBy(identity).map { case (u, xs) => u -> xs.length.toLong }
    assert(got.map(_._1).toSet == erased.keySet)
    got.foreach { case (u, n, rem, purged) =>
      assert(n == erased(u) && rem == 0L && purged, s"user $u: ($n, $rem, $purged)")
    }
    // the rewritten snapshot preserves every non-erased row (same
    // per-user counts) and carries no erased user — read back from disk
    val v2 = spark.read.parquet(s"$erasureOut/v2")
      .select(col("user_id")).as[Long].collect()
    assert(v2.forall(_ % 13 != 0), "an erased user survived the rewrite")
    val keepWant = ev.filter(_ % 13 != 0).groupBy(identity).view.mapValues(_.length).toMap
    val keepGot = v2.groupBy(identity).view.mapValues(_.length).toMap
    assert(keepGot == keepWant, "a non-erased row was lost or duplicated")
    // tombstones carry counts only — no payload columns
    val tomb = spark.read.parquet(s"$erasureOut/tombstones")
    assert(tomb.columns.toSet == Set("user_id", "n_rows_erased"),
      s"tombstone must not carry deleted content: ${tomb.columns.mkString(",")}")
  }

  test("q205 Morton code: bit interleave matches the hand example") {
    // bp=0b1010, bs=0b0110 → p bits land at odd positions, s at even:
    // bit7=p3=1, bit6=s3=0, bit5=p2=0, bit4=s2=1, bit3=p1=1, bit2=s1=1,
    // bit1=p0=0, bit0=s0=0 → 10011100b = 156
    val z = spark.range(1)
      .select(Sources.mortonCode(lit(10L), lit(6L), 4).as("z"))
      .as[Long].head()
    assert(z == 156L, s"morton(1010b, 0110b) = $z, want 156")
  }

  test("q205 Morton code: exhaustive over all 4-bit pairs — matches the pure reference and is a bijection") {
    def pure(bp: Long, bs: Long): Long =
      (0 until 4).map(i =>
        (((bp >> i) & 1L) << (2 * i + 1)) | (((bs >> i) & 1L) << (2 * i)))
        .reduce(_ | _)
    val got = spark.range(256)
      .select((col("id") / 16).cast("long").as("bp"),
        pmod(col("id"), lit(16L)).as("bs"))
      .select(col("bp"), col("bs"),
        Sources.mortonCode(col("bp"), col("bs"), 4).as("z"))
      .as[(Long, Long, Long)].collect()
    got.foreach { case (bp, bs, z) =>
      assert(z == pure(bp, bs), s"morton($bp,$bs)=$z, pure=${pure(bp, bs)}")
    }
    assert(got.map(_._3).toSet == (0L until 256L).toSet,
      "4-bit Morton interleave must be a bijection onto [0,256)")
  }

  test("q206 bloom positions: engine expression equals pure integer math, in range, for 1000 keys") {
    val m = 65536
    val as = Seq(2654435761L, 2246822519L, 3266489917L)
    val got = spark.range(1000)
      .select((col("id") * 7919L + 13L).as("k"))
      .select(col("k"),
        array(Sources.bloomPositions(col("k"), m, 3): _*).as("pos"))
      .as[(Long, Seq[Long])].collect()
    got.foreach { case (k, pos) =>
      val want = as.map(a => ((k * a) & 0x7FFFFFFFL) >> 15)
      assert(pos == want, s"key $k: $pos != $want")
      assert(pos.forall(p => p >= 0 && p < m), s"position out of range for $k")
    }
    // regression (r15): keys congruent mod m must NOT all collide — the
    // old low-bits masking made every key ≡ c (mod m) hash identically
    // in ALL k positions, a structural FP floor past 65536 keys
    val congruent = spark.range(64)
      .select((col("id") * m.toLong + 12345L).as("k"))
      .select(array(Sources.bloomPositions(col("k"), m, 3): _*).as("pos"))
      .as[Seq[Long]].collect().map(_.toList).toSet
    assert(congruent.size > 1,
      "all keys ≡ 12345 (mod m) hash identically — low-bits masking regressed")
  }

  test("q205 zone-map skipping: zorder prunes BOTH dims, linear only its sort key") {
    val rows = Sources.zorderSkippingAudit(spark, TestSpark.Sf0001)
      .as[(String, String, Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    assert(rows.size == 4, s"want 4 (layout, dim) rows, got ${rows.keySet}")
    def skipped(layout: String, dim: String) = {
      val (_, _, nFiles, total, hits, skip, _) = rows((layout, dim))
      assert(total == nFiles * 8 && hits + skip == total,
        s"($layout,$dim) accounting: files=$nFiles total=$total hits=$hits skip=$skip")
      skip.toDouble / total
    }
    // the incumbent: perfect on its sort key, useless on the other
    assert(skipped("linear", "partkey") >= 0.75,
      s"linear/partkey skipped ${skipped("linear", "partkey")}")
    assert(skipped("linear", "suppkey") <= 0.1,
      s"linear/suppkey skipped ${skipped("linear", "suppkey")} — a single-key sort should not prune the other key")
    // the trade zorder exists to make: strong pruning on BOTH
    assert(skipped("zorder", "partkey") >= 0.5 && skipped("zorder", "suppkey") >= 0.5,
      s"zorder skipped p=${skipped("zorder", "partkey")} s=${skipped("zorder", "suppkey")}")
    assert(skipped("zorder", "suppkey") > skipped("linear", "suppkey"))
    // span mass tells the same story in zone-map terms: linear is tightest
    // on its sort key, zorder strictly tighter than linear on the other
    assert(rows(("linear", "partkey"))._7 < rows(("zorder", "partkey"))._7)
    assert(rows(("zorder", "suppkey"))._7 < rows(("linear", "suppkey"))._7)
  }

  test("q205 is deterministic across runs (layout replayable by the oracle)") {
    val a = Sources.zorderSkippingAudit(spark, TestSpark.Sf0001)
      .collect().map(_.toString).sorted.toSeq
    val b = Sources.zorderSkippingAudit(spark, TestSpark.Sf0001)
      .collect().map(_.toString).sorted.toSeq
    assert(a == b)
  }

  test("q206 bloom skipping: no false negatives (set-wise), absent keys exact-zero, pruning real") {
    val rows = Sources.bloomSkippingAudit(spark, TestSpark.Sf0001)
      .as[(Long, Boolean, Long, Long, Long, Long)].collect()
    assert(rows.length == 16, s"want 16 probes, got ${rows.length}")
    val (present, absent) = rows.partition(_._2)
    assert(present.length == 8 && absent.length == 8)
    present.foreach { case (k, _, exact, bloom, fp, _) =>
      assert(exact > 0, s"present probe $k found in no file — rank selection broke")
      assert(bloom >= exact && fp == bloom - exact,
        s"probe $k: bloom=$bloom exact=$exact fp=$fp")
    }
    absent.foreach { case (k, _, exact, bloom, fp, _) =>
      assert(exact == 0L, s"absent probe $k claims exact membership")
      assert(fp == bloom, s"absent probe $k: every bloom match must be a FP")
    }
    // pruning is real: on average the bloom opens well under all files
    val nFiles = rows.head._6
    val avgBloom = present.map(_._4).sum.toDouble / present.length
    assert(avgBloom <= 0.8 * nFiles,
      s"bloom opens $avgBloom of $nFiles files on average — no pruning")
  }

  test("q206 superset invariant holds at the (file, probe) grain, not just counts") {
    // count inequality could hide a miss canceled by a false positive;
    // re-derive both memberships independently and compare sets
    import org.apache.spark.sql.functions.{broadcast => bc}
    val li = spark.read.parquet(s"${TestSpark.Sf0001}/lineitem.parquet")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val b = li.agg(min(col("ok")), max(col("ok"))).head()
    val (omin, omax) = (b.getLong(0), b.getLong(1))
    val withFile = li.withColumn("file_id",
      call_function("div", (col("ok") - lit(omin)) * lit(64L),
        lit(omax - omin + 1L)))
    val probeKeys = Sources.bloomSkippingAudit(spark, TestSpark.Sf0001)
      .filter(col("is_present")).select(col("probe_key")).as[Long].collect().toSeq
    val exactPairs = withFile
      .join(bc(probeKeys.toDF("probe_key")), col("pk") === col("probe_key"))
      .select(col("file_id"), col("probe_key")).distinct()
      .as[(Long, Long)].collect().toSet
    // bloom side: rebuild the index and the per-(file, probe) decision
    val idx = withFile.select(col("file_id"),
        explode(array(Sources.bloomPositions(col("pk"), 65536, 3): _*)).as("pos"))
      .distinct()
    val ppos = probeKeys.toDF("probe_key").select(col("probe_key"),
        explode(array(Sources.bloomPositions(col("probe_key"), 65536, 3): _*))
          .as("pos")).distinct()
    val nPos = ppos.groupBy(col("probe_key")).agg(count(lit(1)).as("n_pos"))
    val bloomPairs = ppos.join(idx, Seq("pos"))
      .groupBy(col("file_id"), col("probe_key"))
      .agg(count(lit(1)).as("hits"))
      .join(nPos, Seq("probe_key")).filter(col("hits") === col("n_pos"))
      .select(col("file_id"), col("probe_key"))
      .as[(Long, Long)].collect().toSet
    assert(exactPairs.subsetOf(bloomPairs),
      s"bloom MISSED ${(exactPairs -- bloomPairs).take(5)} — false negatives")
  }

  test("q206 is deterministic across runs") {
    val a = Sources.bloomSkippingAudit(spark, TestSpark.Sf0001)
      .collect().map(_.toString).sorted.toSeq
    val b = Sources.bloomSkippingAudit(spark, TestSpark.Sf0001)
      .collect().map(_.toString).sorted.toSeq
    assert(a == b)
  }

  test("q209 incremental zone-map store equals the full rebuild; probes prune identically") {
    val store = Sources.incrementalZoneMapStats(spark, TestSpark.Sf0001)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSet
    // full rebuild from the raw table, one group-by
    val li = spark.read.parquet(s"${TestSpark.Sf0001}/lineitem.parquet")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val b = li.agg(min(col("ok")), max(col("ok"))).head()
    val (omin, omax) = (b.getLong(0), b.getLong(1))
    val rebuild = li
      .groupBy(pmod(col("ok"), lit(4L)).as("ingest_batch"),
        call_function("div", (col("ok") - lit(omin)) * lit(16L),
          lit(omax - omin + 1L)).as("file_id"))
      .agg(count(lit(1)).as("n_rows"), min(col("pk")).as("p_lo"),
        max(col("pk")).as("p_hi"), min(col("ok")).as("o_lo"),
        max(col("ok")).as("o_hi"))
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(store == rebuild,
      s"store != rebuild; onlyStore=${(store -- rebuild).take(3)} onlyRebuild=${(rebuild -- store).take(3)}")
    // a range probe through the incremental store prunes the same
    // (tick, file) set a rebuilt index would — trivially, given set
    // equality above, but pin the consumer-side arithmetic explicitly
    val probeLo = omin + (omax - omin + 1L) / 3L
    val probeHi = probeLo + (omax - omin + 1L) / 8L
    def surviving(s: Set[(Long, Long, Long, Long, Long, Long, Long)]) =
      s.filter(r => r._7 >= probeLo && r._6 <= probeHi).map(r => (r._1, r._2))
    assert(surviving(store) == surviving(rebuild) &&
      surviving(store).size < store.size,
      s"probe must prune: ${surviving(store).size} of ${store.size}")
  }

  test("q209 XO lifecycle: later ticks never touch earlier partitions; mid-tick crash replay converges") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_zonemap_xo").toString
    def fileSets(sub: String): Map[String, Set[String]] = {
      val d = new java.io.File(s"$root/$sub")
      if (!d.exists()) Map.empty
      else d.listFiles().filter(_.getName.startsWith("ingest_batch="))
        .map(p => p.getName -> walkFiles(p).map(f =>
          s"${f.getName}:${f.length}").toSet).toMap
    }
    (0 until 3).foreach(t =>
      Sources.zoneMapTickAt(spark, TestSpark.Sf0001, root, t, 4, 16))
    val dataBefore = fileSets("data")
    val statsBefore = fileSets("stats")
    Sources.zoneMapTickAt(spark, TestSpark.Sf0001, root, 3, 4, 16)
    val dataAfter = fileSets("data")
    val statsAfter = fileSets("stats")
    (0 until 3).foreach { t =>
      assert(dataAfter(s"ingest_batch=$t") == dataBefore(s"ingest_batch=$t"),
        s"tick 3 rewrote data partition $t")
      assert(statsAfter(s"ingest_batch=$t") == statsBefore(s"ingest_batch=$t"),
        s"tick 3 rewrote stats partition $t")
    }
    // crash window: tick 2's data landed but its stats write died —
    // simulate by deleting the stats partition, then REPLAY tick 2
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
    }
    val statsContent = spark.read.parquet(s"$root/stats")
      .collect().map(_.toString).sorted.toSeq
    rm(new java.io.File(s"$root/stats/ingest_batch=2"))
    Sources.zoneMapTickAt(spark, TestSpark.Sf0001, root, 2, 4, 16)
    val replayed = spark.read.parquet(s"$root/stats")
      .collect().map(_.toString).sorted.toSeq
    assert(replayed == statsContent, "replay did not converge to pre-crash stats")
    (0 until 4).filter(_ != 2).foreach { t =>
      assert(fileSets("stats")(s"ingest_batch=$t") == statsAfter(s"ingest_batch=$t"),
        s"replaying tick 2 touched stats partition $t")
    }
  }

  test("q210 zone-map-pruned scan: result equals the naive filter; the read opens strictly fewer files") {
    val got = Sources.zoneMapPrunedScan(spark, TestSpark.Sf0001)
      .as[(Long, Long, Long, Long, Long, Long)].head()
    val (zTotal, zScanned, nRows, sumPk, minOk, maxOk) = got
    assert(zScanned > 0 && zScanned < zTotal,
      s"pruning must be real: scanned $zScanned of $zTotal zones")
    // naive recompute
    val li = spark.read.parquet(s"${TestSpark.Sf0001}/lineitem.parquet")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val b = li.agg(min(col("ok")), max(col("ok"))).head()
    val d = b.getLong(1) - b.getLong(0) + 1L
    val (lo, hi) = (b.getLong(0) + d / 3L, b.getLong(0) + d / 3L + d / 8L)
    val want = li.filter(col("ok").between(lo, hi))
      .agg(count(lit(1)), sum(col("pk")), min(col("ok")), max(col("ok")))
      .as[(Long, Long, Long, Long)].head()
    assert((nRows, sumPk, minOk, maxOk) == want,
      s"pruned-scan answer $got != naive $want")
    // and the PHYSICAL claim: a pruned read over the same store opens
    // strictly fewer files than the unpruned read
    val root = Sources.scratchDir(spark, "zonemap_scan_files")
    (0 until 4).foreach(t =>
      Sources.zoneMapTickAt(spark, TestSpark.Sf0001, root, t, 4, 16))
    val all = spark.read.parquet(s"$root/data")
    val stats = spark.read.parquet(s"$root/stats")
      .filter(col("o_hi") >= lo && col("o_lo") <= hi)
      .select(col("ingest_batch").cast("long"), col("file_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // the operator's own plan shape: one isin over the combined
    // (tick, file) key — partition-column-only, so it must STILL land
    // in PartitionFilters (not a post-scan Filter)
    val prunedRead = all.filter(
      (col("ingest_batch") * lit(16L) + col("file_id"))
        .isin(stats.map { case (t, f) => t * 16L + f }: _*))
    val plan = prunedRead.queryExecution.executedPlan.toString()
    assert("PartitionFilters: \\[[^\\]]*(ingest_batch|file_id)".r
      .findFirstIn(plan).isDefined,
      s"zone filters must land in PartitionFilters (pruned at the file " +
        s"index, before any bytes move):\n$plan")
    // and the pruned read actually surfaces fewer files than live zones
    val filesTouched = prunedRead
      .select(input_file_name()).distinct().count()
    val filesAll = all.select(input_file_name()).distinct().count()
    assert(filesTouched < filesAll,
      s"pruned read touched $filesTouched of $filesAll files")
  }

  test("q211 zone compaction: metadata fold == data recompute; blue/green; probe answers unchanged over fewer zones") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_zonemap_compact").toString
    (0 until 4).foreach(t =>
      Sources.zoneMapTickAt(spark, TestSpark.Sf0001, root, t, 4, 16))
    def fileSets(sub: String): Set[String] =
      walkFiles(new java.io.File(s"$root/$sub"))
        .map(f => s"${f.getParentFile.getName}/${f.getName}:${f.length}").toSet
    val dataBefore = fileSets("data")
    val statsBefore = fileSets("stats")
    Sources.compactZonesAt(spark, root)
    // blue/green: the OLD store and stats are byte-untouched
    assert(fileSets("data") == dataBefore, "compaction mutated the live data store")
    assert(fileSets("stats") == statsBefore, "compaction mutated the live stats store")
    // the metadata-only fold equals a recompute from the compacted files
    val folded = spark.read.parquet(s"$root/stats_compact")
      .select(col("file_id").cast("long"), col("n_rows"), col("p_lo"),
        col("p_hi"), col("o_lo"), col("o_hi"))
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    val recomputed = spark.read.parquet(s"$root/data_compact")
      .groupBy(col("file_id").cast("long").as("file_id"))
      .agg(count(lit(1)).as("n_rows"), min(col("pk")).as("p_lo"),
        max(col("pk")).as("p_hi"), min(col("ok")).as("o_lo"),
        max(col("ok")).as("o_hi"))
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(folded == recomputed,
      s"stats fold diverged from compacted data: ${(folded -- recomputed).take(3)}")
    // fewer, bigger zones: 4 ticks x 16 -> 16; probe prunes and agrees
    assert(folded.size == 16)
    val li = spark.read.parquet(s"${TestSpark.Sf0001}/lineitem.parquet")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val bb = li.agg(min(col("ok")), max(col("ok"))).head()
    val d = bb.getLong(1) - bb.getLong(0) + 1L
    val (lo, hi) = (bb.getLong(0) + d / 3L, bb.getLong(0) + d / 3L + d / 8L)
    val zonesHit = folded.filter(z => z._6 >= lo && z._5 <= hi).map(_._1)
    assert(zonesHit.nonEmpty && zonesHit.size < 16, s"probe hit $zonesHit")
    val viaCompact = spark.read.parquet(s"$root/data_compact")
      .filter(zonesHit.toSeq.map(f => col("file_id") === f).reduce(_ || _))
      .filter(col("ok").between(lo, hi))
      .agg(count(lit(1)), sum(col("pk"))).as[(Long, Long)].head()
    val naive = li.filter(col("ok").between(lo, hi))
      .agg(count(lit(1)), sum(col("pk"))).as[(Long, Long)].head()
    assert(viaCompact == naive, s"compacted probe $viaCompact != naive $naive")
    // crash window: compaction died after the data rewrite but before (or
    // mid-) the stats fold — a redo must converge, not compound
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
    }
    rm(new java.io.File(s"$root/stats_compact"))
    new java.io.File(s"$root/data_compact/file_id=3") match {
      case d if d.exists() => rm(d)  // and a torn data write for good measure
      case _ =>
    }
    Sources.compactZonesAt(spark, root)
    val redone = spark.read.parquet(s"$root/stats_compact")
      .select(col("file_id").cast("long"), col("n_rows"), col("p_lo"),
        col("p_hi"), col("o_lo"), col("o_hi"))
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(redone == folded, "compaction redo did not converge after a torn run")
  }

  test("q209 streaming twin: MemoryStream commits reproduce the tick-loop store; replay is a no-op") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val root = java.nio.file.Files
      .createTempDirectory("graft_zonemap_stream").toString
    val li = spark.read.parquet(s"${TestSpark.Sf0001}/lineitem.parquet")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val b = li.agg(min(col("ok")), max(col("ok"))).head()
    val (omin, omax) = (b.getLong(0), b.getLong(1))
    val rows = li.as[(Long, Long)].collect()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, Long)]
    val q = Sources.streamingZoneMapMaintenance(
      input.toDF().toDF("ok", "pk"), root, omin, omax).start()
    try {
      // the same 4 commits the q209 tick loop makes, arriving as a stream
      (0 until 4).foreach { t =>
        input.addData(rows.filter(_._1 % 4 == t).toIndexedSeq)
        q.processAllAvailable()
      }
    } finally q.stop()
    def store() = spark.read.parquet(s"$root/stats")
      .select(col("ingest_batch").cast("long"), col("file_id").cast("long"),
        col("n_rows"), col("p_lo"), col("p_hi"), col("o_lo"), col("o_hi"))
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSet
    val streamed = store()
    val batchTwin = Sources.incrementalZoneMapStats(spark, TestSpark.Sf0001)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(streamed == batchTwin,
      s"stream != batch: ${(streamed -- batchTwin).take(3)} / ${(batchTwin -- streamed).take(3)}")
    // out-of-band replay of the MIDDLE commit (same batchId): converges
    Sources.zoneMapCommit(
      spark.createDataset(rows.filter(_._1 % 4 == 1).toIndexedSeq)
        .toDF("ok", "pk"), 1L, root, omin, omax, 16)
    assert(store() == streamed, "replaying commit 1 changed the store")
  }

  test("q213 streaming twin: MemoryStream commits reproduce the tick-loop bloom store; replay is a no-op") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val root = java.nio.file.Files
      .createTempDirectory("graft_bloom_stream").toString
    val li = spark.read.parquet(s"${TestSpark.Sf0001}/lineitem.parquet")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val b = li.agg(min(col("ok")), max(col("ok"))).head()
    val (omin, omax) = (b.getLong(0), b.getLong(1))
    val rows = li.as[(Long, Long)].collect()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, Long)]
    val q = Sources.streamingBloomMaintenance(
      input.toDF().toDF("ok", "pk"), root, omin, omax).start()
    try {
      // the same 4 commits the q213 tick loop makes, arriving as a stream
      (0 until 4).foreach { t =>
        input.addData(rows.filter(_._1 % 4 == t).toIndexedSeq)
        q.processAllAvailable()
      }
    } finally q.stop()
    def store() = spark.read.parquet(s"$root/bloom")
      .select(col("ingest_batch").cast("long"), col("file_id").cast("long"),
        col("pos")).as[(Long, Long, Long)].collect().toSet
    val streamed = store()
    val batchTwin = Sources.incrementalBloomStats(spark, TestSpark.Sf0001)
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed == batchTwin,
      s"stream != batch: ${(streamed -- batchTwin).take(3)} / ${(batchTwin -- streamed).take(3)}")
    // out-of-band replay of the MIDDLE commit (same batchId): converges
    Sources.bloomCommit(
      spark.createDataset(rows.filter(_._1 % 4 == 1).toIndexedSeq)
        .toDF("ok", "pk"), 1L, root, omin, omax, 16, 65536, 3)
    assert(store() == streamed, "replaying commit 1 changed the bloom store")
    // and the data side converged too (both sinks are per-tick overwrites;
    // row COUNT, not set — (ok, pk) pairs legitimately repeat in lineitem)
    val dataRows = spark.read.parquet(s"$root/data").count()
    assert(dataRows == rows.length,
      s"streamed data sink holds $dataRows of ${rows.length} rows")
  }

  test("q213 incremental bloom store equals a full rebuild; commit replay is a no-op") {
    val store = Sources.incrementalBloomStats(spark, TestSpark.Sf0001)
      .as[(Long, Long, Long)].collect().toSet
    val li = spark.read.parquet(s"${TestSpark.Sf0001}/lineitem.parquet")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val b = li.agg(min(col("ok")), max(col("ok"))).head()
    val (omin, omax) = (b.getLong(0), b.getLong(1))
    val rebuild = li
      .select(pmod(col("ok"), lit(4L)).as("ingest_batch"),
        call_function("div", (col("ok") - lit(omin)) * lit(16L),
          lit(omax - omin + 1L)).as("file_id"),
        explode(array(Sources.bloomPositions(col("pk"), 65536, 3): _*))
          .as("pos"))
      .distinct().as[(Long, Long, Long)].collect().toSet
    assert(store == rebuild,
      s"store != rebuild: ${(store -- rebuild).take(3)} / ${(rebuild -- store).take(3)}")
    // replaying a commit out of band converges (deterministic content,
    // per-tick dynamic overwrite — the zoneMapCommit XO story verbatim)
    val root = Sources.scratchDir(spark, "bloom_xo")
    (0 until 4).foreach(t =>
      Sources.bloomTickAt(spark, TestSpark.Sf0001, root, t, 4, 16, 65536, 3))
    def read() = spark.read.parquet(s"$root/bloom")
      .select(col("ingest_batch").cast("long"), col("file_id").cast("long"),
        col("pos")).as[(Long, Long, Long)].collect().toSet
    val before = read()
    Sources.bloomTickAt(spark, TestSpark.Sf0001, root, 1, 4, 16, 65536, 3)
    assert(read() == before, "replaying commit 1 changed the bloom store")
  }

  test("q214 bloom-pruned lookup: exact answer regardless of FP, absent key opens (almost) nothing") {
    val rows = Sources.bloomPrunedLookup(spark, TestSpark.Sf0001)
      .as[(Long, Boolean, Long, Long, Long, Long)].collect()
      .map(r => r._2 -> r).toMap
    val (pk, _, zTotal, zOpened, nRows, sumOk) = rows(true)
    // the answer equals the naive scan — FPs cannot corrupt it
    val naive = spark.read.parquet(s"${TestSpark.Sf0001}/lineitem.parquet")
      .filter(col("l_partkey") === pk)
      .agg(count(lit(1)), coalesce(sum(col("l_orderkey")), lit(0L)))
      .as[(Long, Long)].head()
    assert((nRows, sumOk) == naive, s"lookup ($nRows,$sumOk) != naive $naive")
    assert(nRows > 0, "present probe must hit rows")
    // superset: every (tick, file) cell actually holding the key opened
    val liAll = spark.read.parquet(s"${TestSpark.Sf0001}/lineitem.parquet")
    val ob = liAll.agg(min(col("l_orderkey")), max(col("l_orderkey"))).head()
    val holding = liAll.filter(col("l_partkey") === pk)
      .select(pmod(col("l_orderkey"), lit(4L)),
        call_function("div",
          (col("l_orderkey") - lit(ob.getLong(0))) * lit(16L),
          lit(ob.getLong(1) - ob.getLong(0) + 1L)))
      .distinct().count()
    assert(zOpened >= holding && zOpened < zTotal,
      s"opened $zOpened of $zTotal (>=$holding cells hold the key)")
    val (_, _, _, zOpenedAbs, nRowsAbs, sumAbs) = rows(false)
    assert(nRowsAbs == 0L && sumAbs == 0L, "absent key must return nothing")
    assert(zOpenedAbs <= zTotal / 4,
      s"absent key opened $zOpenedAbs of $zTotal — the index is not pruning")
  }

  test("versionedSwap: every crash instant resolves full-old or full-new — no torn middle") {
    import spark.implicits._
    val path = java.nio.file.Files
      .createTempDirectory("graft_vswap").toString + "/store"
    def readLive(): Set[Long] =
      spark.read.parquet(Sources.livePath(spark, path))
        .select(col("id")).as[Long].collect().toSet
    // bootstrap: generation pointer absent, the raw path is live
    spark.range(0, 10).write.parquet(path)
    assert(Sources.livePath(spark, path) == path && readLive() == (0L until 10L).toSet)
    // CRASH DURING the staged write: the pointer never moved, the old
    // store is fully readable, the half-written generation is inert
    val boom = intercept[RuntimeException] {
      Sources.versionedSwap(spark, path) { (live, staged) =>
        spark.read.parquet(live).limit(3).write.parquet(staged) // partial
        throw new RuntimeException("killed mid-compaction")
      }
    }
    assert(boom.getMessage == "killed mid-compaction")
    assert(Sources.livePath(spark, path) == path && readLive() == (0L until 10L).toSet)
    // CRASH BETWEEN staged write and flip — simulated exactly: the next
    // generation exists in full, the pointer still names the old store
    spark.range(100, 105).write.mode("overwrite").parquet(s"${path}__g1")
    assert(readLive() == (0L until 10L).toSet,
      "an unflipped staged generation must not be visible")
    // the REDO sweeps the crashed attempt and completes: readers now see
    // the new generation in full; the superseded store is cleaned up
    Sources.versionedSwap(spark, path) { (live, staged) =>
      spark.read.parquet(live).select(col("id") + 1000L)
        .toDF("id").write.parquet(staged)
    }
    assert(Sources.livePath(spark, path) == s"${path}__g1")
    assert(readLive() == (1000L until 1010L).toSet)
    assert(!new java.io.File(path).exists(), "superseded store not cleaned")
    // CRASH BETWEEN flip and cleanup: a leaked superseded dir is inert —
    // the pointer, not the path, names the live store
    spark.range(0, 3).write.parquet(path) // the "leak"
    assert(readLive() == (1000L until 1010L).toSet)
    // second swap: generation increments, same guarantees
    Sources.versionedSwap(spark, path) { (live, staged) =>
      spark.read.parquet(live).select(col("id") + 1000L)
        .toDF("id").write.parquet(staged)
    }
    assert(Sources.livePath(spark, path) == s"${path}__g2")
    assert(readLive() == (2000L until 2010L).toSet)
    // bootstrap reset: a full rebuild at the raw path claims liveness back
    Sources.resetLivePointer(spark, path)
    spark.range(50, 55).write.mode("overwrite").parquet(path)
    assert(Sources.livePath(spark, path) == path && readLive() == (50L until 55L).toSet)
  }

  test("q220 z-order optimize: clustering decay measured, OPTIMIZE restores pruning, answer invariant") {
    val rows = Sources.zorderOptimizeLifecycle(spark, TestSpark.Sf0001)
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    val pre = rows("pre"); val post = rows("post")
    // the probe's ANSWER is layout-invariant (pruning is sound)
    assert((pre._4, pre._5, pre._6) == (post._4, post._5, post._6),
      s"answer must not depend on layout: $pre vs $post")
    assert(pre._4 > 0, "the rectangle probe must hit rows")
    // the decay: the unclustered tail forces the probe wide open —
    // every tail file overlaps a quarter-domain rectangle, so pre opens
    // MORE files than the clustered post layout has to
    assert(pre._3 > post._3,
      s"OPTIMIZE must reduce opened files: pre ${pre._3}, post ${post._3}")
    assert(pre._2 > post._2,
      s"OPTIMIZE must fold the tail: ${pre._2} -> ${post._2} files")
    // post-OPTIMIZE the layout prunes hard: a quarter-domain rectangle
    // opens at most half the Morton grid even at sf0.001's sparse zones
    // (sf0.01 measures 4 of 16 — the asymptotic quarter)
    assert(post._3 * 2 <= post._2,
      s"clustered probe must open <= 1/2 of files: ${post._3} of ${post._2}")
    // determinism (the oracle replays the layout math)
    val again = Sources.zorderOptimizeLifecycle(spark, TestSpark.Sf0001)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    assert(again == rows.values.toSet, "lifecycle must be deterministic")
  }

  test("vacuumGenerations: removes leaked generations and the superseded raw store, never the live one") {
    import spark.implicits._
    val path = java.nio.file.Files
      .createTempDirectory("graft_vacuum").toString + "/store"
    spark.range(0, 5).write.parquet(path)
    Sources.versionedSwap(spark, path) { (live, staged) =>
      spark.read.parquet(live).select(col("id") + 100L)
        .toDF("id").write.parquet(staged)
    }
    // plant the two declared leak shapes: a crashed staged attempt and a
    // superseded raw store the post-flip cleanup never reached
    spark.range(0, 2).write.parquet(s"${path}__g99")
    spark.range(0, 2).write.mode("overwrite").parquet(path)
    def readLive(): Set[Long] =
      spark.read.parquet(Sources.livePath(spark, path))
        .select(col("id")).as[Long].collect().toSet
    assert(readLive() == (100L until 105L).toSet)
    val removed = Sources.vacuumGenerations(spark, path)
    assert(removed.map(p => p.substring(p.lastIndexOf('/') + 1)).toSet
      == Set("store__g99", "store"),
      s"vacuum must remove exactly the leaks, removed $removed")
    assert(readLive() == (100L until 105L).toSet, "vacuum touched the live store")
    assert(!new java.io.File(s"${path}__g99").exists())
    assert(!new java.io.File(path).exists())
    // idempotent; and a pointerless raw store is never vacuumed
    assert(Sources.vacuumGenerations(spark, path).isEmpty)
    val raw = java.nio.file.Files
      .createTempDirectory("graft_vacuum2").toString + "/store2"
    spark.range(0, 3).write.parquet(raw)
    assert(Sources.vacuumGenerations(spark, raw).isEmpty,
      "a live un-swapped store must never be vacuumed")
  }

  test("q222 vacuum audit: exactly the planted leaks removed, idempotent, live data intact, re-runnable in one session") {
    import spark.implicits._
    val got = Sources.vacuumGenerationsAudit(spark, TestSpark.Sf0001)
      .as[(Long, Long, Long, Long, Long)].head()
    val want = graft.Tables.documents(spark, TestSpark.Sf0001)
      .agg(countDistinct(col("lang")), count(lit(1)))
      .as[(Long, Long)].head()
    assert(got == (2L, 0L, 1L, want._1, want._2),
      s"audit row $got != (2, 0, 1, ${want._1}, ${want._2})")
    // the bench runs a query twice in one session: the private per-run
    // root must make the second lifecycle independent of the first
    val again = Sources.vacuumGenerationsAudit(spark, TestSpark.Sf0001)
      .as[(Long, Long, Long, Long, Long)].head()
    assert(again == got, s"second run $again != first $got")
  }

  test("ensureStore: same-key callers share one build; a slow build never blocks another key") {
    // same key, concurrent: exactly one build, one path
    val built = new java.util.concurrent.atomic.AtomicInteger(0)
    val key = s"spec_${System.nanoTime()}"
    val paths = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val callers = (1 to 4).map { _ =>
      new Thread(() => {
        paths.add(Sources.ensureStore(spark, "spectag", key) { _ =>
          built.incrementAndGet(); ()
        }); ()
      })
    }
    callers.foreach(_.start()); callers.foreach(_.join(10000))
    assert(built.get() == 1 && paths.size == 1,
      s"expected one shared build, got ${built.get()} builds, ${paths.size} paths")
    // two parameter sets of one tag in one session: two roots, two table
    // names, and each set's later callers reuse its own root
    val rootA = Sources.ensureStore(spark, "spectag", s"$key|8") { _ => () }
    val rootB = Sources.ensureStore(spark, "spectag", s"$key|4") { _ => () }
    assert(rootA != rootB)
    assert(Sources.ensureStore(spark, "spectag", s"$key|8") { _ =>
      fail("a memoized parameter set rebuilt") } == rootA)
    assert(Sources.ensureTable(spark, "spectab", s"$key|8") { _ => () } !=
      Sources.ensureTable(spark, "spectab", s"$key|4") { _ => () })
    // different keys: key B completes WHILE key A's build is still held
    // open (the r16 advice finding: the old global monitor serialized them)
    val aEntered = new java.util.concurrent.CountDownLatch(1)
    val aRelease = new java.util.concurrent.CountDownLatch(1)
    val a = new Thread(() => {
      Sources.ensureStore(spark, "spectag", key + "_slow") { _ =>
        aEntered.countDown(); aRelease.await(); ()
      }; ()
    })
    a.start()
    assert(aEntered.await(10, java.util.concurrent.TimeUnit.SECONDS))
    val bDone = new java.util.concurrent.CountDownLatch(1)
    val b = new Thread(() => {
      Sources.ensureStore(spark, "spectag", key + "_fast") { _ => () }
      bDone.countDown()
    })
    b.start()
    val bFinished = bDone.await(10, java.util.concurrent.TimeUnit.SECONDS)
    aRelease.countDown(); a.join(10000); b.join(10000)
    assert(bFinished, "an unrelated key's build blocked behind a slow build")
  }

  test("q233 MV store: partials equal the direct per-tick aggregate; fold equals the base aggregate; replay is a no-op") {
    val store = Sources.incrementalMatViewMaintenance(spark, TestSpark.Sf0001)
      .select(col("ingest_batch"), col("o_orderstatus"),
        col("o_orderpriority"), col("n_orders"), col("sum_price"))
      .as[(Long, String, String, Long, Double)].collect().toSet
    val orders = Tables.orders(spark, TestSpark.Sf0001)
    val direct = orders
      .groupBy(pmod(col("o_orderkey"), lit(4L)).as("ingest_batch"),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(12,2)"))
          .cast("double").as("sum_price"))
      .as[(Long, String, String, Long, Double)].collect().toSet
    assert(store == direct,
      s"partials != direct: ${(store -- direct).take(3)} / ${(direct -- store).take(3)}")
    // fold ≡ the base aggregate the MV stands in for
    val root = Sources.ensureMatViewStore(spark, TestSpark.Sf0001, 4)
    val fold = Sources.matViewFold(spark, root)
      .select(col("o_orderstatus"), col("o_orderpriority"),
        col("n_orders"), col("sum_price_dec").cast("double"))
      .as[(String, String, Long, Double)].collect().toSet
    val base = orders.groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(12,2)")).cast("double"))
      .as[(String, String, Long, Double)].collect().toSet
    assert(fold == base, "MV fold != direct base aggregate")
    // out-of-band replay of a middle commit converges (XO contract)
    Sources.matViewTickAt(spark, TestSpark.Sf0001, root, 1, 4)
    val replayed = Sources.incrementalMatViewMaintenance(spark, TestSpark.Sf0001)
      .select(col("ingest_batch"), col("o_orderstatus"),
        col("o_orderpriority"), col("n_orders"), col("sum_price"))
      .as[(Long, String, String, Long, Double)].collect().toSet
    assert(replayed == store, "replaying commit 1 changed the MV store")
  }

  test("q233 streaming twin: MemoryStream commits reproduce the tick-loop MV store; replay is a no-op") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val root = java.nio.file.Files
      .createTempDirectory("graft_mv_stream").toString
    val rows = Tables.orders(spark, TestSpark.Sf0001)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_orderpriority"), col("o_totalprice"))
      .as[(Long, String, String, Double)].collect()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String, String, Double)]
    val q = Sources.streamingMatViewMaintenance(
      input.toDF().toDF("o_orderkey", "o_orderstatus", "o_orderpriority",
        "o_totalprice"), root).start()
    try {
      (0 until 4).foreach { t =>
        input.addData(rows.filter(_._1 % 4 == t).toIndexedSeq)
        q.processAllAvailable()
      }
    } finally q.stop()
    def store() = spark.read.parquet(s"$root/mv")
      .select(col("ingest_batch").cast("long"), col("o_orderstatus"),
        col("o_orderpriority"), col("n_orders"),
        col("sum_price_dec").cast("double"))
      .as[(Long, String, String, Long, Double)].collect().toSet
    val streamed = store()
    val batchTwin = Sources.incrementalMatViewMaintenance(spark, TestSpark.Sf0001)
      .select(col("ingest_batch"), col("o_orderstatus"),
        col("o_orderpriority"), col("n_orders"), col("sum_price"))
      .as[(Long, String, String, Long, Double)].collect().toSet
    assert(streamed == batchTwin,
      s"stream != batch: ${(streamed -- batchTwin).take(3)} / ${(batchTwin -- streamed).take(3)}")
    // out-of-band replay of the MIDDLE commit (same batchId): converges
    Sources.matViewCommit(
      spark.createDataset(rows.filter(_._1 % 4 == 1).toIndexedSeq)
        .toDF("o_orderkey", "o_orderstatus", "o_orderpriority",
          "o_totalprice"), 1L, root)
    assert(store() == streamed, "replaying commit 1 changed the MV store")
  }

  test("q234 MV rewrite: staleness detected from metadata, refresh tick-targeted, rewrite matches base per status") {
    val out = Sources.matViewRewriteAudit(spark, TestSpark.Sf0001)
      .select(col("o_orderstatus"), col("mv_n"), col("base_n"),
        col("rewrite_match"), col("pre_refresh_rows"), col("base_rows"),
        col("was_stale"), col("n_refreshed_ticks"))
      .as[(String, Long, Long, Boolean, Long, Long, Boolean, Long)]
      .collect()
    assert(out.nonEmpty)
    val orders = Tables.orders(spark, TestSpark.Sf0001)
    val expectedPre = orders
      .filter(pmod(col("o_orderkey"), lit(4L)) =!= 3L).count()
    val expectedBase = orders.count()
    out.foreach { case (st, mvN, baseN, m, pre, base, stale, refreshed) =>
      assert(m, s"rewrite mismatch for status $st")
      assert(mvN == baseN)
      assert(pre == expectedPre, s"pre_refresh_rows $pre != $expectedPre")
      assert(base == expectedBase)
      assert(stale, "a store missing tick 3 must read stale")
      assert(refreshed == 1L)
    }
  }

  test("q239 MV compaction: fold preserved at group grain, counters exact, rollup through the compacted store equals base") {
    val out = Sources.matViewCompaction(spark, TestSpark.Sf0001)
      .as[(String, String, Long, Double, Long, Long, Long)].collect()
    val orders = Tables.orders(spark, TestSpark.Sf0001)
    val base = orders
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(12,2)")).cast("double"))
      .as[(String, String, Long, Double)].collect().toSet
    assert(out.map(r => (r._1, r._2, r._3, r._4)).toSet == base,
      "compacted store != direct base aggregate")
    val expectedBefore = orders
      .select(pmod(col("o_orderkey"), lit(4L)), col("o_orderstatus"),
        col("o_orderpriority")).distinct().count()
    out.foreach { r =>
      assert(r._5 == expectedBefore,
        s"n_partials_before ${r._5} != $expectedBefore")
      assert(r._6 == base.size.toLong, s"n_rows_after ${r._6}")
      assert(r._7 == 1L, s"generation ${r._7}")
    }
    // the q234 rewrite consumer through the COMPACTED store: the
    // coarser rollup folds identically (monoid re-aggregation)
    val rollup = out.groupBy(_._1).view
      .mapValues(rs => rs.map(_._3).sum).toMap
    val baseRollup = base.toSeq.groupBy(_._1).view
      .mapValues(rs => rs.map(_._3).sum).toMap
    assert(rollup == baseRollup, "rollup through compacted != base")
    // re-compaction converges: the fold is idempotent on a folded
    // store — generation advances, content identical
    val root2 = java.nio.file.Files
      .createTempDirectory("graft_mvcmp2").toString
    (0 until 4).foreach(t =>
      Sources.matViewTickAt(spark, TestSpark.Sf0001, s"$root2/x", t, 4))
    def live() = spark.read
      .parquet(Sources.livePath(spark, s"$root2/x/mv"))
      .select(col("o_orderstatus"), col("o_orderpriority"),
        col("n_orders"), col("sum_price_dec").cast("double"))
      .as[(String, String, Long, Double)].collect().toSet
    val g1 = Sources.compactMvAt(spark, s"$root2/x/mv")
    val c1 = live()
    val g2 = Sources.compactMvAt(spark, s"$root2/x/mv")
    val c2 = live()
    assert(g1 == 1L && g2 == 2L, s"generations ${(g1, g2)}")
    assert(c1 == c2, "re-compaction changed the folded content")
    assert(c1.map(r => (r._1, r._2, r._3)) ==
      base.map(r => (r._1, r._2, r._3)), "compacted counts != base")
  }

  test("MV store guards: empty tick is a no-op commit, post-compaction tick commits fail loudly") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_mvguard").toString
    (0 until 4).foreach(t =>
      Sources.matViewTickAt(spark, TestSpark.Sf0001, s"$root/x", t, 4))
    def store() = spark.read
      .parquet(Sources.livePath(spark, s"$root/x/mv"))
      .select(col("ingest_batch").cast("long"), col("o_orderstatus"),
        col("n_orders"))
      .as[(Long, String, Long)].collect().toSet
    val before = store()
    // an empty batch (no orders rows) must not write a part-less
    // zero-row partition that breaks later schema inference
    Sources.matViewCommit(
      Tables.orders(spark, TestSpark.Sf0001)
        .filter(col("o_orderkey") < 0), 9L, s"$root/x")
    assert(store() == before, "empty tick changed the store")
    // after compaction the tick grain is folded away: a commit must be
    // rejected, never landed on the dead raw path behind the pointer
    Sources.compactMvAt(spark, s"$root/x/mv")
    intercept[IllegalArgumentException] {
      Sources.matViewTickAt(spark, TestSpark.Sf0001, s"$root/x", 1, 4)
    }
  }

  private def walkFiles(d: java.io.File): Seq[java.io.File] =
    if (d.isFile) Seq(d)
    else Option(d.listFiles()).map(_.toSeq.flatMap(walkFiles)).getOrElse(Nil)
}