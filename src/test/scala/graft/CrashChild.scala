package graft

import graft.sources.Store
import org.apache.spark.sql.SparkSession

/** The SECOND JVM of the two-process crash/lease integration tests
  * (TwoProcessSpec). Forked via ProcessBuilder on the sbt test
  * classpath; each mode drives a real Store op and then either parks
  * (to be hard-killed by the parent) or halts itself at an injected
  * point — real process death, not a thrown exception, so the parent
  * proves the recovery protocols against the genuine on-disk state a
  * dead writer leaves.
  *
  * Modes:
  *  - `hold <storeDir> <key> <flagFile>` — acquire the item's writer
  *    lease, touch the flag file, park forever (renewer keeps the
  *    lease live until the parent kills the process).
  *  - `manifestcrash <objstoreDir> <key>` — run compactBuckets() over
  *    the objstore:// filesystem and halt(43) the instant its first unit
  *    manifest create begins: every rewritten data file is written, no
  *    manifest and no pointer is.
  *  - `appendloop <storeDir> <key> <nBatches> <seed>` — append
  *    `nBatches` leased 50-row batches ([[TwoProcFixtures.batch]])
  *    while the parent does the same with a different seed; prints
  *    APPENDLOOP_DONE and exits 0.
  */
object CrashChild {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-crash-child")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    args(0) match {
      case "hold" =>
        val Array(_, dir, key, flag) = args
        val s = Store.open(spark, dir, writerLease = true)
        s.withLease(key) {
          java.nio.file.Files.write(
            java.nio.file.Paths.get(flag), "HELD".getBytes("UTF-8"))
          Thread.sleep(3600000L) // parked: the parent hard-kills us
        }
      case "manifestcrash" =>
        val Array(_, dir, key) = args
        spark.sparkContext.hadoopConfiguration
          .set("fs.objstore.impl", classOf[ObjStoreFs].getName)
        val s = Store.open(spark, dir) // existing store: persisted schema
        ObjStoreFs.haltOnCreatePath = Some(s"items/$key/u-")
        s.compactBuckets(key, maxFilesPerBucket = 1)
        // reaching here means the halt never fired — loud failure
        System.err.println("CrashChild: compactBuckets completed, manifest halt never fired")
        sys.exit(1)
      case "versioncrash" =>
        // die at the COMMIT point of a rewrite — the new version's files
        // and manifests are all written, and the process halts the instant
        // the `_current` pointer create begins. The parent must keep
        // reading the OLD version exactly and sweep the orphan.
        val Array(_, dir, key) = args
        spark.sparkContext.hadoopConfiguration
          .set("fs.objstore.impl", classOf[ObjStoreFs].getName)
        val s = Store.open(spark, dir) // existing store
        ObjStoreFs.haltOnCreatePath = Some(s"items/$key/_current")
        s.compact(key)
        System.err.println("CrashChild: compact completed, pointer halt never fired")
        sys.exit(1)
      case "ctascrash" =>
        // staged CTAS through the SQL catalog: die the instant the
        // `_current` pointer create begins — the new item's version is
        // fully written (the insert completed), but the commit
        // never lands. The parent must see NO item at all.
        val Array(_, dir, key) = args
        spark.sparkContext.hadoopConfiguration
          .set("fs.objstore.impl", classOf[ObjStoreFs].getName)
        ObjStoreFs.haltOnCreatePath = Some(s"items/$key/_current")
        spark.conf.set("spark.sql.catalog.crashcat", "graft.sources.v2.GraftCatalog")
        spark.conf.set("spark.sql.catalog.crashcat.path", dir)
        spark.sql(s"CREATE TABLE crashcat.$key AS SELECT * FROM crashcat.SRC")
        System.err.println("CrashChild: CTAS completed, pointer halt never fired")
        sys.exit(1)
      case "fuzzlife" =>
        // randomized cross-JVM lifecycle writer (r16 verdict task #7):
        // the same op-sequence search as StoreProps' lifecycle fuzz,
        // but the crashes are REAL process death — each op may arm a
        // halt at a data file or manifest create, at the `_current`
        // pointer create, or inside a delete, so the JVM dies exactly
        // where a preempted executor would. The
        // parent replays the truth from this process's confirmed-op
        // log and model-checks the recovered store. Ops print START
        // before and OK after, flushed, because nothing after a halt
        // runs — the log IS the happened-before record.
        val Array(_, dir, seedStr, nStr) = args
        spark.sparkContext.hadoopConfiguration
          .set("fs.objstore.impl", classOf[ObjStoreFs].getName)
        val rnd = new scala.util.Random(seedStr.toLong)
        val s = Store.open(spark, dir) // created by the parent
        def say(l: String): Unit = { println(l); System.out.flush() }
        (0 until nStr.toInt).foreach { i =>
          val armKind = rnd.nextInt(8)
          val op = rnd.nextInt(10)
          val b = rnd.nextInt(4)
          // arm AFTER drawing op/b so the sequence is log-reconstructable
          if (armKind == 0) { // p=1/8: die at a manifest create — a
            // unit manifest (the data files are written) or the version
            // manifest (every manifest but it is written)
            ObjStoreFs.haltOnCreatePath = Some(Seq("items/K/u-", "items/K/v-")(rnd.nextInt(2)))
          } else if (armKind == 1) { // p=1/8: die mid-MATERIALIZATION —
            // at a data file create, leaving files no manifest names
            ObjStoreFs.haltOnCreatePath = Some("items/K/data/")
          } else if (armKind == 2) { // p=1/8: die AT the pointer commit
            ObjStoreFs.haltOnCreatePath = Some("items/K/_current")
          } else if (armKind == 3) { // p=1/8: die inside a delete — a
            // commit's deletes of what it superseded, or vacuum's
            // sweep — after 0-1 matching deletes pass, so a multi-file
            // delete dies PARTWAY; the recovery vacuum must finish it
            ObjStoreFs.deleteSkips.set(rnd.nextInt(2))
            ObjStoreFs.haltOnDeletePath = Some("items/K/")
          }
          op match {
            case 0 | 1 | 2 | 3 =>
              say(s"FUZZLIFE_START appendNewOnly $b")
              s.appendNewOnly("K", TwoProcFixtures.batch(spark, seedStr.toInt, b))
            case 4 | 5 =>
              say(s"FUZZLIFE_START append $b")
              s.append("K", TwoProcFixtures.batch(spark, seedStr.toInt, b))
            case 6 | 7 =>
              say(s"FUZZLIFE_START compact -")
              s.compact("K")
            case 8 | 9 =>
              // maintenance belongs in the searched mix: a force sweep
              // between ops exercises orphan reclaim against whatever
              // debris earlier arms left, and the delete arm above can
              // kill THIS op partway through its sweep. Rows never
              // change: vacuum touches only files the current version
              // does not name, which is exactly what the model asserts.
              say(s"FUZZLIFE_START vacuum -")
              s.vacuum(0L)
          }
          ObjStoreFs.haltOnCreatePath = None
          ObjStoreFs.haltOnDeletePath = None
          say("FUZZLIFE_OK")
        }
        say("FUZZLIFE_DONE")
        sys.exit(0)
      case "appendloop" =>
        // live two-writer contention: append `n` disjoint batches under
        // the writer lease while the parent does the same — every batch
        // is lease-serialized against the parent's
        val Array(_, dir, key, nStr, seedStr) = args
        val s = Store.open(spark, dir, writerLease = true)
        (0 until nStr.toInt).foreach { i =>
          s.appendNewOnly(key, TwoProcFixtures.batch(spark, seedStr.toInt, i))
        }
        println("APPENDLOOP_DONE")
        sys.exit(0)
      case other =>
        System.err.println(s"CrashChild: unknown mode $other")
        sys.exit(2)
    }
  }
}

/** The ONE generator of the two-process append fixture, shared by
  * CrashChild's appendloop mode and TwoProcessSpec's parent loop — the
  * exactly-once count assertion is only valid while both writers
  * generate from the same formula, so it lives in exactly one place.
  * `k = (seed*1000 + i)*100 + j` is globally unique per (seed, batch,
  * row), making every batch disjoint from every other seed's.
  */
object TwoProcFixtures {
  def batch(spark: SparkSession, seed: Int, i: Int): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val t0 = java.time.LocalDate.parse("2021-01-01")
      .atStartOfDay(java.time.ZoneOffset.UTC)
    (0 until 50).map { j =>
      val k = (seed * 1000 + i) * 100 + j
      (java.sql.Timestamp.from(t0.plusDays(k.toLong % 3650).toInstant),
        k.toDouble, k + 1.0, k - 1.0, k.toDouble, 1000L + k)
    }.toDF("date", "open", "high", "low", "close", "volume")
  }
}
