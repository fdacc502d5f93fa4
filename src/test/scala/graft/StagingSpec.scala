package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** The stage-once helper's own contract, driven without Spark: the
  * sources are one-file stand-ins for a dataset's tables (the freshness
  * key only reads file metadata), and the builds write marker files. */
class StagingSpec extends AnyFunSuite {

  /** A fresh dataset dir holding stand-ins for `tables`. */
  private def dataset(tables: String*): String = {
    val d = Files.createTempDirectory("graft_staging_spec").toString
    tables.foreach(t => Files.write(Paths.get(d, s"$t.parquet"), s"$t-$d".getBytes("UTF-8")))
    d
  }

  private def gone(root: String): Boolean = !new java.io.File(root).exists()

  test("vacuum reaps txnsink_ and cardstore_ dirs whose dataset was deleted") {
    val d = dataset("events", "orders")
    val roots = Seq("txnsink_" -> "events", "cardstore_" -> "orders").map { case (kind, table) =>
      val (dirKey, fp) = Tables.stagingKey(d, table)
      val root = s"${Staging.Base}/$kind$dirKey"
      new java.io.File(root).mkdirs()
      Staging.recordSource(root, d, table, fp)
      root
    }
    Staging.vacuum()
    assert(roots.forall(r => new java.io.File(r).exists()), "a live dataset's dirs must be kept")
    Staging.rmTree(new java.io.File(d))
    Staging.vacuum()
    roots.foreach(r => assert(gone(r), s"vacuum left the dead dir $r"))
  }

  test("two threads staging the same cold root build it once") {
    val d = dataset("documents")
    val builds = new AtomicInteger(0)
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    val results = (1 to 2).map { _ =>
      pool.submit(() => {
        start.await()
        Staging.once("pairs_", d, Seq("documents"), "v1-race-spec") { tmp =>
          builds.incrementAndGet()
          Thread.sleep(300) // hold the build open while the other caller arrives
          Files.write(tmp.toPath.resolve("part"), Array[Byte](1))
        }
      })
    }
    start.countDown()
    val roots = results.map(_.get(60, TimeUnit.SECONDS))
    pool.shutdown()
    assert(builds.get == 1, s"expected one build, got ${builds.get}")
    assert(roots.distinct.size == 1, s"callers got different roots: $roots")
    assert(new java.io.File(roots.head, "part").exists())
    Staging.rmTree(new java.io.File(roots.head))
    Staging.rmTree(new java.io.File(d))
  }

  test("stale-format and marker-less roots are rebuilt, not served") {
    val d = dataset("documents", "events")
    val fp = Tables.stagingKey(d, "documents")._2
    val builds = new AtomicInteger(0)
    def stage(fmt: String): String =
      Staging.once("pairs_", d, Seq("documents"), fmt) { _ => builds.incrementAndGet(); () }
    val root = stage("v1-stale-spec")
    assert(stage("v1-stale-spec") == root && builds.get == 1, "a current root must be served")
    assert(stage("v2-stale-spec") == root)
    assert(builds.get == 2, "a root staged by an older format was served")
    assert(Staging.isCurrent(root, s"v2-stale-spec|$fp"))
    assert(!Staging.isCurrent(root, s"v1-stale-spec|$fp"))
    Staging.rmTree(new java.io.File(root))

    // an in-place build that dies half-way leaves its root without a marker
    val inPlaceBuilds = new AtomicInteger(0)
    val hits = new AtomicInteger(0)
    def inPlace(fail: Boolean): String =
      Staging.inPlace("txnsink_", d, Seq("events"), "v1-partial-spec",
          onHit = _ => { hits.incrementAndGet(); () }) { r =>
        inPlaceBuilds.incrementAndGet()
        Files.write(Paths.get(r, "half"), Array[Byte](1))
        if (fail) throw new IllegalStateException("build died")
      }
    intercept[IllegalStateException](inPlace(fail = true))
    val partial = new java.io.File(Staging.Base,
      s"txnsink_${Tables.stagingKey(d, "events")._1}")
    assert(new java.io.File(partial, "half").exists(), "the failed build should leave its partial root")
    val r2 = inPlace(fail = false)
    assert(inPlaceBuilds.get == 2 && hits.get == 0, "a marker-less root was served")
    inPlace(fail = false)
    assert(inPlaceBuilds.get == 2 && hits.get == 1, "a complete root must be served")
    Staging.rmTree(new java.io.File(r2))
    Staging.rmTree(new java.io.File(d))
  }

  test("an unregistered kind fails loudly") {
    val d = dataset("documents")
    val e = intercept[IllegalArgumentException](
      Staging.once("nope_", d, Seq("documents"), "v1")(_ => ()))
    assert(e.getMessage.contains("nope_"))
    intercept[IllegalArgumentException](
      Staging.inPlace("nope_", d, Seq("documents"), "v1")(_ => ()))
    Staging.rmTree(new java.io.File(d))
  }

  test("vacuum reaps retired scratch dirs and never an unknown one") {
    assert(Staging.Retired.forall(r => !Staging.Kinds.exists(k => k.startsWith(r) || r.startsWith(k))),
      "a retired prefix must not shadow a live kind")
    val tag = s"spec${System.nanoTime}"
    val retired = Staging.Retired.map(r => s"${Staging.Base}/$r$tag")
    // no source record: an unknown dir (the catalog base shares the
    // root) and a live kind's half-built root must both survive
    val kept = Seq(s"${Staging.Base}/unknown_$tag", s"${Staging.Base}/pairs_$tag")
    (retired ++ kept).foreach { r =>
      new java.io.File(r).mkdirs()
      Files.write(Paths.get(r, "part"), Array[Byte](1))
    }
    Staging.vacuum()
    retired.foreach(r => assert(gone(r), s"vacuum left the retired dir $r"))
    kept.foreach(r => assert(!gone(r), s"vacuum reaped $r, which it does not own"))
    kept.foreach(r => Staging.rmTree(new java.io.File(r)))
    intercept[IllegalArgumentException](Staging.scratch(s"${Staging.Retired.head}x", "/d"))
  }
}
