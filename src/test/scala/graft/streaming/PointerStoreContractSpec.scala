package graft.streaming

import graft.SparkSpec
import java.nio.file.{Files, Paths}
import org.apache.hadoop.fs.Path

/** The CONTRACT a [[VersionedSnapshot.PointerStore]] must satisfy on
  * the filesystems that select it — written as reusable behaviors so a
  * store is certified by subclassing with the store and a scratch
  * location on its filesystem. No object store is reachable from the
  * test suite, but the contract is the part that must not drift: before
  * a table is deployed on a new ETag store, run this spec against it.
  *
  * The five laws, each an independent test against a fresh pointer:
  *  1. create-if-absent: expected=None writes iff nothing exists.
  *  2. compare-exchange: a put against the current content wins; a put
  *     against anything else loses and changes nothing.
  *  3. stall-immunity: a writer that read the pointer, then slept
  *     through another writer's flip, loses its late put — the compare
  *     happens at put time, not read time.
  *  4. single-winner: concurrent puts against one generation admit
  *     exactly one winner.
  *  5. reader atomicity: content observed mid-race is always some
  *     complete committed value, never partial.
  */
abstract class PointerStoreContract extends SparkSpec {

  /** The store under certification. */
  protected def store: VersionedSnapshot.PointerStore

  /** A fresh pointer path in the store's scheme (new location per call). */
  protected def freshPointer(tag: String): Path

  protected def fsFor(p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def contentOf(p: Path): Option[String] = {
    val f = fsFor(p)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try Some(scala.io.Source.fromInputStream(in).mkString.trim)
      finally in.close()
    }
  }

  test(s"${store.name}: create-if-absent writes iff nothing exists") {
    val ptr = freshPointer("law1")
    val f = fsFor(ptr)
    assert(store.putIfMatch(spark, f, ptr, "0", None))
    assert(contentOf(ptr).contains("0"))
    assert(!store.putIfMatch(spark, f, ptr, "1", None))
    assert(contentOf(ptr).contains("0"))
  }

  test(s"${store.name}: compare-exchange wins on current content, " +
      "loses (unchanged) on anything else") {
    val ptr = freshPointer("law2")
    val f = fsFor(ptr)
    assert(store.putIfMatch(spark, f, ptr, "10", None))
    assert(store.putIfMatch(spark, f, ptr, "11", Some("10")))
    assert(!store.putIfMatch(spark, f, ptr, "99", Some("10")))
    assert(!store.putIfMatch(spark, f, ptr, "99", Some("12")))
    assert(contentOf(ptr).contains("11"))
  }

  test(s"${store.name}: a stalled writer's late put against its stale " +
      "read loses, regardless of stall length") {
    val ptr = freshPointer("law3")
    val f = fsFor(ptr)
    assert(store.putIfMatch(spark, f, ptr, "0", None))
    val staleBasis = contentOf(ptr)
    // interim flip while the first writer "sleeps"
    assert(store.putIfMatch(spark, f, ptr, "1", Some("0")))
    Thread.sleep(50) // any stall length; the compare is at put time
    assert(!store.putIfMatch(spark, f, ptr, "2", staleBasis))
    assert(contentOf(ptr).contains("1"))
  }

  test(s"${store.name}: concurrent puts against one generation admit " +
      "exactly one winner") {
    val ptr = freshPointer("law4")
    val f = fsFor(ptr)
    assert(store.putIfMatch(spark, f, ptr, "0", None))
    (0 until 10).foreach { g =>
      val wins = new java.util.concurrent.atomic.AtomicInteger(0)
      val ts = (1 to 6).map { i =>
        val t = new Thread(() => {
          if (store.putIfMatch(spark, f, ptr, (g + 1).toString, Some(g.toString))) {
            wins.incrementAndGet(); ()
          }
        }, s"psc-$g-$i")
        t.start(); t
      }
      ts.foreach(_.join(30000))
      assert(wins.get == 1, s"generation $g: ${wins.get} winners")
      assert(contentOf(ptr).contains((g + 1).toString))
    }
  }

  test(s"${store.name}: readers racing the flips only ever observe " +
      "complete committed values") {
    val ptr = freshPointer("law5")
    val f = fsFor(ptr)
    assert(store.putIfMatch(spark, f, ptr, "1000", None))
    val bad = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var stop = false
    val reader = new Thread(() => {
      while (!stop) contentOf(ptr).foreach { c =>
        if (c.toLongOption.forall(v => v < 1000L || v > 1100L)) { bad.add(c); () }
      }
    }, "psc-reader")
    reader.start()
    var v = 1000L
    while (v < 1100L) {
      assert(store.putIfMatch(spark, f, ptr, (v + 1).toString, Some(v.toString)))
      v += 1
    }
    stop = true
    reader.join(30000)
    assert(bad.isEmpty, s"reader saw partial/foreign content: ${bad.peek}")
  }
}

/** Certification of the shipped local CAS double against the contract. */
class CasFilePointerStoreContractSpec extends PointerStoreContract {
  protected def store: VersionedSnapshot.PointerStore =
    VersionedSnapshot.CasFilePointerStore
  protected def freshPointer(tag: String): Path = {
    val d = Files.createTempDirectory(s"graft-psc-$tag")
    new Path(d.resolve("_CURRENT").toString)
  }
}

/** The rename store passes the sequential laws (1-3) by construction
  * but is NOT certified: law 4 (single-winner under concurrency) is
  * exactly what it cannot promise without the external fenced lock,
  * which is why [[VersionedSnapshot.commitPointer]] takes that lock
  * around every flip. No subclass on purpose. */
object RenameStoreIsNotCertified

/** r15 certification of [[VersionedSnapshot.EtagPointerStore]] — the
  * S3A/ABFS deployment face over Hadoop's public conditional-write API
  * — against the etag-exposing local double. Laws 3/4 are precisely
  * what a store that silently IGNORED the mandatory etag key would
  * fail, which is why a new ETag store is certified before use. */
class EtagPointerStoreContractSpec extends PointerStoreContract {
  protected def store: VersionedSnapshot.PointerStore =
    VersionedSnapshot.EtagPointerStore
  protected def freshPointer(tag: String): Path = {
    spark.sparkContext.hadoopConfiguration.set("fs.etagfs.impl",
      classOf[EtagCasTestFileSystem].getName)
    val d = Files.createTempDirectory(s"graft-epsc-$tag")
    new Path("etagfs://" + d.resolve("_CURRENT"))
  }

  test("etag-cas refuses a FileSystem without conditional-write support " +
      "instead of writing unconditionally") {
    val d = Files.createTempDirectory("graft-epsc-noetag")
    val ptr = new Path(d.resolve("_CURRENT").toString) // plain file: scheme
    val f = fsFor(ptr)
    // create-if-absent: the mandatory conditional key is UNKNOWN to a
    // plain local FS, and Hadoop's must() contract fails the build —
    // loud, never a silent unconditional write
    val e1 = intercept[IllegalArgumentException] {
      store.putIfMatch(spark, f, ptr, "0", None)
    }
    assert(e1.getMessage.toLowerCase.contains("mandatory"),
      s"must() must reject the unknown conditional key, got: ${e1.getMessage}")
    // compare-exchange: refused earlier still — the status carries no etag
    java.nio.file.Files.write(d.resolve("_CURRENT"), "0".getBytes("UTF-8"))
    val e2 = intercept[RuntimeException] {
      store.putIfMatch(spark, f, ptr, "1", Some("0"))
    }
    assert(e2.getMessage.contains("EtagSource"),
      s"must name the missing capability, got: ${e2.getMessage}")
  }
}

/** End-to-end: the whole snapshot life cycle committing through
  * conditional puts on the etag store — merges, a CAS-losing concurrent
  * writer, purge linearization — on an `etagfs://` table, which flips
  * through etag-cas because its filesystem reports ETags: deploying on
  * an ETag object store takes no conf and no port. */
class EtagBackendEndToEndSpec extends graft.SparkSpec {
  import spark.implicits._
  import VersionedSnapshot._

  test("merge / concurrent race / purge cycle on an etagfs:// table " +
      "through the etag-cas backend") {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.etagfs.impl", classOf[EtagCasTestFileSystem].getName)
    hc.set("fs.AbstractFileSystem.etagfs.impl", classOf[EtagCasAbstractFs].getName)
    val tmp = Files.createTempDirectory("graft-etag-e2e")
    val base = s"etagfs://$tmp/t"
    val f = new Path(base).getFileSystem(hc)
    assert(f.getScheme == "etagfs")
    mergeInto(base, (0L until 40L).map(k => (k, k)).toDF("k", "v"),
      Seq("k"), UpdateMatched, insertUnmatched = true, marker = "seed",
      retain = 10, numBuckets = 4)
    // two writers race on disjoint keys: every pointer flip is a
    // conditional put; the loser's 412 surfaces as the retryable
    // conflict and the retry lands it
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = Seq(("a", 1L), ("b", 2L)).map { case (tag, off) =>
      val t = new Thread(() => {
        try (1 to 3).foreach { i =>
          retryOnConflict(attempts = 30, backoffMs = 30L) {
            mergeInto(base,
              Seq((off * 100 + i, 1000L + i)).toDF("k", "v"), Seq("k"),
              UpdateMatched, insertUnmatched = true,
              marker = s"w-$tag-$i", retain = 10)
          }
          ()
        } catch { case e: Throwable => errs.add(e); () }
      }, s"graft-etag-w$tag")
      t.start(); t
    }
    ts.foreach(_.join(120000))
    assert(errs.isEmpty, s"racing writers must both land: ${errs.peek}")
    val ks = read(spark, base).get.select("k").collect().map(_.getLong(0)).toSet
    assert((1 to 3).forall(i => ks(100L + i) && ks(200L + i)),
      s"a conditional-put loser's merge was dropped: $ks")
    // purge linearizes through the same conditional commit
    assert(purgeKeys(spark, base, Seq("k"), Seq(Seq(7L))) > 0)
    assert(!read(spark, base).get.select("k").collect()
      .map(_.getLong(0)).toSet.contains(7L))
    // and the stream face reads the erasure back out
    val ckpt = Files.createTempDirectory("graft-etag-ck").toString
    var purgeSeen = false
    changesStream(spark, base, Seq("k"), ckpt,
        startVersion = Some(currentVersion(spark, base).get - 1)) {
      (feed, _, _) =>
        purgeSeen = feed.filter(org.apache.spark.sql.functions.col("op") === "purge")
          .count() > 0
    }
    assert(purgeSeen, "the purge retraction must flow on the etag backend")
  }
}
