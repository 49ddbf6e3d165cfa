package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every driver-local fast path reads its budget through
  * [[graft.operators.DriverLocal]]: a second `Long.getLong(` is how the
  * fast paths grew four budgets in three units before. No
  * SparkSession needed. */
class DriverLocalGuardSpec extends AnyFunSuite {

  test("only DriverLocal.scala calls Long.getLong( in src/main") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val walk = Files.walk(root)
    val readers =
      try walk.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .filter(p => Files.readString(p).contains("Long.getLong("))
        .map((p: Path) => root.relativize(p).toString).toList.sorted
      finally walk.close()
    assert(readers === List("graft/operators/DriverLocal.scala"))
  }
}
