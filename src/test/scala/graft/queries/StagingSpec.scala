package graft.queries

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every fixture, index and export the catalog stages lies under this
  * JVM's own [[Staging.root]], so two runs on one host cannot overwrite
  * each other's inputs.
  */
class StagingSpec extends AnyFunSuite {

  test("every catalog staging path lies under the per-JVM staging root") {
    val root = Staging.root
    assert(Files.isDirectory(root))
    assert(root.getFileName.toString.startsWith("graft_staging_"))
    assert(Staging.root == root, "the root is chosen once per JVM")

    val paths = CatalogHelpers.getClass.getMethods.toSeq
      .filter(m => m.getParameterCount == 0 && m.getReturnType == classOf[String])
      .map(m => m.getName -> m.invoke(CatalogHelpers).asInstanceOf[String])
      .filter(_._2.startsWith("/"))
    assert(paths.size >= 44, paths)
    paths.foreach { case (name, p) =>
      assert(Paths.get(p).startsWith(root), s"$name = $p is outside $root")
    }
    assert(CatalogHelpers.stagingPath("x") == root.resolve("x").toString)
  }

  test("catalog sources name no fixed /tmp path") {
    val walk = Files.walk(Paths.get("src/main/scala/graft/queries"))
    val literals =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
        .flatMap { f =>
          Files.readAllLines(f).asScala.zipWithIndex.collect {
            case (line, i) if line.contains("\"/tmp/") =>
              s"$f:${i + 1}: ${line.trim}"
          }
        }
      finally walk.close()
    assert(literals.isEmpty, literals.mkString("\n"))
  }

  test("no source reads a catalog artifact at its former fixed /tmp path") {
    // a stager's artifact used to live at /tmp/graft_<name>; a reader
    // still naming that path reads a leftover of some other run, or
    // nothing, instead of what this JVM staged
    def sources(dir: String): Seq[java.nio.file.Path] = {
      val walk = Files.walk(Paths.get(dir))
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      finally walk.close()
    }
    val all = sources("src/main/scala") ++ sources("src/test/scala")
    val named = "stagingPath\\(s?\"([A-Za-z0-9_.]+)".r
    val names = all.filter(_.toString.startsWith("src/main"))
      .flatMap(f => named.findAllMatchIn(Files.readString(f)).map(_.group(1)))
      .toSet
    assert(names.contains("imghash_stage") && names.contains("sig_life"), names)
    val former = names.toSeq.map(n =>
      n -> ("/tmp/graft_" + java.util.regex.Pattern.quote(n) + "(?![A-Za-z0-9_])").r)
    val hits = for {
      f <- all
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      (n, re) <- former if re.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: reads $n at a fixed path: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("a root chosen once cannot be moved") {
    Staging.root
    intercept[IllegalArgumentException](Staging.keepUnder("target/staging_elsewhere"))
  }
}
