package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** [[GraftExtensions]] is the only code in `src/main/scala` that installs
  * a function, optimizer rule or planner strategy. A second, per-session
  * installer makes what SQL can call, and how a bad call fails, depend on
  * which keys ran earlier in the session.
  */
class ExtensionInstallGuardSpec extends AnyFunSuite {

  private val installer = "graft/GraftExtensions.scala"
  private val commentRe = """(?s)/\*.*?\*/|//[^\n]*""".r
  private val installs = Seq("functionRegistry", "createOrReplaceTempFunction",
    "registerFunction", "udf.register", "experimental.extraStrategies",
    "experimental.extraOptimizations")

  /** The install calls in `source`, comments stripped. */
  private[graft] def installCalls(source: String): Seq[String] = {
    val code = commentRe.replaceAllIn(source, "")
    installs.filter(code.contains)
  }

  test("the scanner flags per-session installs and nothing else") {
    val flagged = Seq(
      "spark.sessionState.functionRegistry.createOrReplaceTempFunction(\"f\", b, \"scala_udf\")",
      "s.sessionState.functionRegistry.registerFunction(id, info, b)",
      "spark.udf.register(\"f\", (x: Int) => x)",
      "spark.experimental.extraStrategies = Seq(AsOfJoinStrategy)",
      "s.experimental.extraOptimizations :+= JaccardSizePrefilter")
    val clean = Seq(
      "ext.injectFunction((FunctionIdentifier(\"vec_dot\"), info, builder))",
      "ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)",
      "ext.injectQueryStagePrepRule(_ => graft.plans.GatherSmallSort)",
      "graft.plans.ViewRewrite.register(\"q_view_rewrite\", base, root, v)",
      "spark.sparkContext.register(acc, name)",
      "// spark.udf.register(\"f\", g)\nval n = 1",
      "/* s.experimental.extraStrategies = Nil */ val m = 2")
    flagged.foreach(c => assert(installCalls(c).nonEmpty, s"missed: $c"))
    clean.foreach(c => assert(installCalls(c).isEmpty, s"false positive: $c"))
  }

  test("no code in src/main/scala but GraftExtensions installs a function, rule or strategy") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    assert(Files.isRegularFile(root.resolve(installer)), s"$installer is gone")
    val walk = Files.walk(root)
    val found: Map[String, Seq[String]] =
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).map { p: Path =>
        root.relativize(p).toString -> installCalls(Files.readString(p))
      }.filter(_._2.nonEmpty).toMap - installer
      finally walk.close()
    assert(found.isEmpty,
      s"installs outside GraftExtensions (file -> calls): $found; inject the " +
        "function, rule or strategy in GraftExtensions instead")
  }
}
