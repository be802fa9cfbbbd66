package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.engine.{Memo, Tables}

/** engine.Memo: memo lifetime is the SparkContext, builds are
  * at-most-once per key, a failed build memoizes nothing, and no other
  * memo registry exists in src/main. Some cases stop the shared
  * context; each leaves a live SparkTestBase session behind
  * (SparkTestBase.session() restarts one on a fresh warehouse dir). */
class MemoSpec extends SparkTestBase {

  /** The live shared session (a new one if a case stopped the last). */
  private def live(): SparkSession = SparkTestBase.session()

  private def warehouse(s: SparkSession): String =
    s.conf.get("spark.sql.warehouse.dir")

  /** A private copy of fixture tables: a new absolute path is a new
    * memo key, so the first lookup really builds. */
  private def fixtureCopy(names: String*): String = {
    val dir = Files.createTempDirectory("graft-memo-fixture")
    names.foreach(n => Files.copy(Path.of(sf, s"$n.parquet"),
      dir.resolve(s"$n.parquet")))
    dir.toString
  }

  test("a new context on a different warehouse rebuilds q_join_bucketed") {
    val s1 = live()
    val before = SparkEntry.queries("q_join_bucketed")(s1, sf).collect()
    val wh1 = warehouse(s1)
    s1.stop()
    val s2 = live()
    assert(warehouse(s2) != wh1, "the restarted context must use a new warehouse")
    // before the registry, the bucketed-base memo outlived the context
    // and served table names the new catalog had never seen
    val after = SparkEntry.queries("q_join_bucketed")(s2, sf).collect()
    assert(after.toSeq == before.toSeq)
  }

  test("stop() drops the context's table; a stopped session is refused without an insert") {
    val s = live()
    val sc = s.sparkContext
    Tables.t(s, sf, "region")
    assert(Memo.entries(sc).exists(_ > 0))
    s.stop()
    assert(Memo.entries(sc).isEmpty, "the dead context's table must be gone after stop()")
    intercept[Memo.ContextStopped](Tables.t(s, sf, "nation"))
    intercept[Memo.ContextStopped](Memo.context(s, "MemoSpec.stopped")(1))
    assert(Memo.entries(sc).isEmpty, "a refused lookup must insert nothing")
    assert(live().range(3).count() == 3)
  }

  test("a build that throws memoizes nothing and is retried on the next call") {
    val s = live()
    val dir = Files.createTempDirectory("graft-memo-retry").toString
    intercept[Exception](Tables.t(s, dir, "region")) // no file yet
    Files.copy(Path.of(sf, "region.parquet"), Path.of(dir, "region.parquet"))
    assert(Tables.t(s, dir, "region").count() ==
      Tables.t(s, sf, "region").count())

    var builds = 0
    intercept[IllegalStateException](Memo.context(s, "MemoSpec.retry") {
      builds += 1; throw new IllegalStateException("first build fails")
    })
    assert(Memo.context(s, "MemoSpec.retry") { builds += 1; "built" } == "built")
    assert(Memo.context(s, "MemoSpec.retry") { builds += 1; "again" } == "built")
    assert(builds == 2)
  }

  test("concurrent first calls to an index memo build once; the nested Tables.t does not throw") {
    val s = live()
    val dir = fixtureCopy("documents")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val start = new java.util.concurrent.CountDownLatch(1)
      val calls = (1 to 4).map(_ => pool.submit(
        new java.util.concurrent.Callable[(String, String)] {
          def call(): (String, String) = { start.await(); graft.operators.StandingIndexes.Gram.standing(s, dir) }
        }))
      start.countDown()
      val got = calls.map(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
      // one build returns one tuple instance to every caller
      assert(got.forall(_ eq got.head), s"built more than once: $got")
      assert(s.table(got.head._2).count() > 0)
    } finally pool.shutdownNow()
  }

  test("no memo registry outside engine/Memo.scala") {
    val root = Path.of("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root (cwd ${Path.of("").toAbsolutePath})")
    val newMap = """new\s+(java\.util\.concurrent\.)?ConcurrentHashMap\s*\[""".r
    val files = {
      val it = Files.walk(root)
      try it.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally it.close()
    }
    val offenders = for {
      p <- files if !p.endsWith(Path.of("engine", "Memo.scala"))
      src = Files.readString(p)
      hit <- Seq("MemoReaper", "computeIfAbsent").filter(src.contains) ++
        newMap.findFirstIn(src).map(_ => "new ConcurrentHashMap")
    } yield s"$p: $hit"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
