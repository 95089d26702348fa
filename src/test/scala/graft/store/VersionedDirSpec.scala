package graft.store

import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.scalacheck.{Gen, Prop, Shrink, Test}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The versioned-layout contract ([[VersionedDir]]) under random crash
  * histories. Each case runs a random sequence of committed writes,
  * writes that died before their marker, reaps that died between marker
  * and dir, injected dangling markers and repairs (dry and applied) on a
  * local temp dir. Version contents are written with plain file IO, so
  * no Spark job runs. After every step:
  *  - `current` is the highest committed version whose dir exists, or
  *    the structure reports it as a dangling marker;
  *  - a committed write is live, holds only what its writer wrote (no
  *    debris of an earlier crash at the same name) and leaves at most
  *    `keep` committed versions;
  *  - a dry-run repair changes no file;
  *  - an applied repair leaves the structure clean, with `current` the
  *    highest committed version that survived.
  */
class VersionedDirSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  sealed trait Op
  case object Write extends Op
  case object CrashBeforeMarker extends Op
  case object CrashMidReap extends Op
  final case class Dangle(n: Int) extends Op
  final case class Repair(dryRun: Boolean) extends Op

  private val genOp: Gen[Op] = Gen.frequency(
    5 -> Gen.const(Write),
    2 -> Gen.const(CrashBeforeMarker),
    2 -> Gen.const(CrashMidReap),
    1 -> Gen.chooseNum(1, 30).map(Dangle(_)),
    2 -> Gen.oneOf(true, false).map(Repair(_)))

  private val genCase: Gen[(Int, List[Op])] = for {
    keep <- Gen.chooseNum(1, 3)
    n <- Gen.chooseNum(1, 25)
    ops <- Gen.listOfN(n, genOp)
  } yield (keep, ops)

  // shrink the history only: `keep` stays inside the generator's range
  private implicit val shrinkCase: Shrink[(Int, List[Op])] =
    Shrink { case (keep, ops) => Shrink.shrink(ops).map(keep -> _) }

  private def tree(root: JPath): Set[String] =
    if (!Files.exists(root)) Set.empty
    else Files.walk(root).iterator().asScala
      .map(p => root.relativize(p).toString).toSet

  private def touch(p: JPath): Unit = {
    Files.createDirectories(p.getParent)
    if (!Files.exists(p)) Files.createFile(p)
  }

  /** The highest committed version whose directory exists, from disk. */
  private def highestSurviving(root: JPath): Option[String] = {
    val names = tree(root).filterNot(_.contains("/"))
    names.filter(_.startsWith(VersionedDir.CommitPrefix))
      .map(_.stripPrefix(VersionedDir.CommitPrefix))
      .filter(v => Files.isDirectory(root.resolve(v)))
      .toSeq.sorted.lastOption
  }

  private def run(keep: Int, ops: List[Op]): Prop = {
    val root = Files.createTempDirectory("graft-versioned").resolve("t")
    val vd = new VersionedDir(spark, root.toString)
    def nextNum = vd.current.map(_.drop(1).toInt).getOrElse(0) + 1
    val failures = ops.zipWithIndex.flatMap { case (op, i) =>
      val before = tree(root)
      val surviving = highestSurviving(root)
      val stepFail: Seq[String] = op match {
        case Write =>
          val v = vd.writeNext(keep) { p =>
            touch(JPath.of(p, "data"))
          }
          Seq(
            Option.when(!vd.current.contains(v))(s"write $v not live"),
            Option.when(tree(root.resolve(v)) != Set("", "data"))(
              s"write $v holds ${tree(root.resolve(v))}"),
            Option.when(vd.versions.size > keep)(
              s"${vd.versions.size} committed versions kept, keep=$keep")).flatten
        case CrashBeforeMarker =>
          touch(root.resolve(VersionedDir.name(nextNum)).resolve("torn"))
          Nil
        case CrashMidReap =>
          val vs = vd.versions
          if (vs.size > 1)
            Files.delete(root.resolve(VersionedDir.CommitPrefix + vs.head))
          Nil
        case Dangle(n) =>
          if (!Files.exists(root.resolve(VersionedDir.name(n))))
            touch(root.resolve(VersionedDir.CommitPrefix + VersionedDir.name(n)))
          Nil
        case Repair(true) =>
          vd.repair(dryRun = true)
          Option.when(tree(root) != before)("dry-run repair changed files").toSeq
        case Repair(false) =>
          vd.repair(dryRun = false)
          val s = vd.structure
          Seq(
            Option.when(s.uncommitted.nonEmpty || s.dangling.nonEmpty)(
              s"repair left $s"),
            Option.when(vd.current != surviving)(
              s"after repair current=${vd.current}, expected $surviving")).flatten
      }
      val cur = vd.current
      val resolves = cur == highestSurviving(root) ||
        cur.exists(vd.structure.dangling.contains)
      val all = stepFail ++
        Option.when(!resolves)(s"current=$cur, surviving=${highestSurviving(root)}")
      all.map(f => s"step $i ($op): $f")
    }
    Prop(failures.isEmpty) :| s"keep=$keep ops=$ops\n${failures.mkString("\n")}"
  }

  test("property: resolution, dry-run repair and applied repair under random crash histories") {
    val result = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(150),
      Prop.forAll(genCase) { case (keep, ops) => run(keep, ops) })
    assert(result.passed, result.status.toString)
  }

  test("legacy flat layout is refused; structure and repair still audit it") {
    val root = Files.createTempDirectory("graft-versioned-legacy").resolve("t")
    touch(root.resolve("part-00000.parquet"))
    val vd = new VersionedDir(spark, root.toString)
    val e = intercept[RuntimeException](vd.current)
    assert(e.getMessage.contains("legacy flat layout"))
    assert(vd.structure == VersionedDir.Structure(None, 0, Nil, Nil))
    assert(vd.repair(dryRun = false).isEmpty)
    assert(Files.exists(root.resolve("part-00000.parquet")))
  }
}
