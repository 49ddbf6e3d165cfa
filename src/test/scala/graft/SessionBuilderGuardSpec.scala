package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every main builds its session through [[LocalSpark]]: a second
  * builder is how harnesses drifted off the oracle's session config
  * (ANSI on, other core counts) before. No SparkSession needed. */
class SessionBuilderGuardSpec extends AnyFunSuite {

  test("only LocalSpark.scala calls SparkSession.builder( in src/main") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val walk = Files.walk(root)
    val builders =
      try walk.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .filter(p => Files.readString(p).contains("SparkSession.builder("))
        .map((p: Path) => root.relativize(p).toString).toList.sorted
      finally walk.close()
    assert(builders === List("graft/LocalSpark.scala"))
  }
}
