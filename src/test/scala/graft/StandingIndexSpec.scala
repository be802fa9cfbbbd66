package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.engine.StandingIndex

/** Every standing-index family driven through the ONE lifecycle seam
  * (VERDICT r16 #7): build → absorb → probe → purge → compact(fold) →
  * policy, with the cross-family invariants asserted family-
  * AGNOSTICALLY — the test body never names a family-specific
  * function, which is the point of the seam: the fifth family gets
  * this whole battery by registering one instance. */
class StandingIndexSpec extends SparkTestBase {

  private def lifecycle[T](fam: StandingIndex[T]): Unit = {
    val idc = col(fam.idCol)
    val t = fam.build(spark, sf, s"_seam_${fam.family}",
      _.filter(idc % 10 =!= 0))
    val m0 = fam.members(spark, sf, t).localCheckpoint()
    assert(m0.count() > 0, s"${fam.family}: built an empty index")
    // absorb one day: membership grows by covered day rows ONLY —
    // nothing lost, nothing from outside the day
    fam.absorb(spark, sf, t, idc % 40 === 0)
    val m1 = fam.members(spark, sf, t).localCheckpoint()
    assert(m0.exceptAll(m1).isEmpty,
      s"${fam.family}: absorb dropped standing members")
    val delta = m1.exceptAll(m0)
    val dayIds = graft.engine.Tables.t(spark, sf, fam.source)
      .filter(idc % 40 === 0).select(idc)
    assert(delta.count() > 0,
      s"${fam.family}: absorb grew nothing — vacuous day")
    assert(delta.join(dayIds, Seq(fam.idCol), "left_semi").count() ==
      delta.count(), s"${fam.family}: absorb invented members")
    val batch = idc % 40 === 30
    // purge: tombstoned ids vanish from the membership at once
    val ids = graft.engine.Tables.t(spark, sf, fam.source)
      .filter(idc % 10 =!= 0 && idc % 30 === 3).select(idc)
    assert(ids.count() > 0, s"${fam.family}: no purgeable rows at this sf")
    fam.purge(spark, t, ids)
    val mP = fam.members(spark, sf, t).localCheckpoint()
    assert(mP.join(ids, Seq(fam.idCol), "left_semi").count() == 0,
      s"${fam.family}: purged ids survive in the membership")
    val p1 = fam.probe(spark, sf, t, batch).collect().map(_.toString).toSeq
    // the fold is invisible to probes and membership, and physical:
    // every declared table loses its sidecar and the purged rows
    fam.compact(spark, sf, t)
    fam.idTables(t).foreach { case (table, _, tableId) =>
      assert(!spark.catalog.tableExists(table + "_tomb"),
        s"${fam.family}: the fold left $table's tombstones behind")
      assert(spark.table(table).join(ids.select(idc.as(tableId)),
        Seq(tableId), "left_semi").isEmpty,
        s"${fam.family}: purged rows still on disk in $table")
    }
    assert(fam.probe(spark, sf, t, batch).collect().map(_.toString).toSeq
      == p1, s"${fam.family}: the fold moved a verdict")
    val mF = fam.members(spark, sf, t)
    assert(mP.exceptAll(mF).isEmpty && mF.exceptAll(mP).isEmpty,
      s"${fam.family}: the fold changed the membership")
    // the DEFAULT policy consults without error; a fired repair must
    // keep the purge-aware membership (no resurrection through the
    // seam — SoakBench trips the defaults on honestly-aged fixtures)
    fam.maybeMaintain(spark, sf, t, batch, s"_seamm_${fam.family}")
      .foreach { nt =>
        assert(fam.members(spark, sf, nt)
          .join(ids, Seq(fam.idCol), "left_semi").count() == 0,
          s"${fam.family}: the policy's repair resurrected purged ids")
      }
    ()
  }

  /** Where code under `root` (a `graft` source dir) drives a standing
    * index around its seam: a memoized index fixture in Pipeline or
    * Retrieval other than the two repair fixtures, or a tombstone /
    * compaction call outside engine/ and StreamRunner's erasure
    * rollback (which folds with its caller's bucket count). */
  private def seamBypasses(root: Path): Seq[String] = {
    val files = {
      val it = Files.walk(root)
      try it.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally it.close()
    }
    val repairs = Set("lshIndexRefrozen", "ivfIndexReclustered")
    val memo = """Memo\.context\(\s*\w+\s*,\s*"([\w.]+)"""".r
    val call = """\b(tombstone|compactBucketed)\(""".r
    val member = """(?m)^  (?:[\w\[\]]+\s+)*def\s+(\w+)""".r
    files.flatMap { p =>
      val rel = root.relativize(p)
      // code only: scaladoc and line comments name these calls too
      val code = Files.readAllLines(p).asScala.map { l =>
        val t = l.trim
        if (t.startsWith("*") || t.startsWith("/*")) "" else l.replaceAll("//.*$", "")
      }.mkString("\n")
      val fixtures =
        if (Seq("Pipeline", "Retrieval").exists(n =>
            rel == Path.of("operators", s"$n.scala")))
          memo.findAllMatchIn(code).map(_.group(1)).filterNot(repairs)
            .map(k => s"$rel: memoized index fixture $k").toList
        else Nil
      val calls =
        if (rel.startsWith("engine")) Nil
        else call.findAllMatchIn(code).toList.flatMap { m =>
          val owner = member.findAllMatchIn(code.substring(0, m.start))
            .toList.lastOption.map(_.group(1))
          if (rel == Path.of("streaming", "StreamRunner.scala") &&
              owner.contains("recomputeAfterErasure")) None
          else Some(s"$rel: ${m.group(1)}( in ${owner.getOrElse("<no def>")}")
        }
      fixtures ++ calls
    }
  }

  test("every index fixture, purge and fold in src/main goes through the seam") {
    val root = Path.of("src/main/scala/graft")
    assert(Files.isDirectory(root), s"run from the repo root (cwd ${Path.of("").toAbsolutePath})")
    val found = seamBypasses(root)
    assert(found.isEmpty, found.mkString("\n"))
    // the scan sees a bypass planted in a copy of each file it guards
    val copy = Files.createTempDirectory("graft-seam-scan")
    def plant(rel: Path, edit: String => String): Unit = {
      Files.createDirectories(copy.resolve(rel).getParent)
      Files.writeString(copy.resolve(rel), edit(Files.readString(root.resolve(rel))))
    }
    plant(Path.of("operators", "Pipeline.scala"), _.replace(
      "private[graft] def ivfIndexReclustered",
      """private[graft] def ivfIndexAged(s: SparkSession, d: String) =
        |    Memo.context(s, "ivfIndexAged", d) { d }
        |  private[graft] def ivfIndexReclustered""".stripMargin))
    plant(Path.of("SoakBench.scala"), _.replace("val after = probe()",
      "Layout.compactBucketed(spark, t.toString, \"g\", 8); val after = probe()"))
    plant(Path.of("streaming", "StreamRunner.scala"), _.replace(
      "graft.engine.Layout.purgeLanded(",
      "Layout.tombstone(gT, ids, idCol); graft.engine.Layout.purgeLanded("))
    val planted = seamBypasses(copy)
    assert(planted.size == 3 && Seq("ivfIndexAged", "in lifecycle",
      "in purgeThrough").forall(h => planted.exists(_.contains(h))),
      planted.mkString("\n"))
  }

  graft.operators.StandingIndexes.families.foreach { f =>
    test(s"seam lifecycle (build/absorb/probe/purge/fold/policy): ${f.family}") {
      lifecycle(f)
    }
  }
}
