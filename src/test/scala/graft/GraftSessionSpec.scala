package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every session is built by [[GraftSession.local]]: another session
  * builder under `src/` is a copy whose confs can drift. */
class GraftSessionSpec extends AnyFunSuite {
  test("the session builder is called under src/ only in GraftSession") {
    val needle = "SparkSession" + ".builder()"
    val src = Paths.get(sys.props.getOrElse("user.dir", "."), "src")
    assume(Files.isDirectory(src), s"no source tree at $src")
    val walk = Files.walk(src)
    val copies =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .filterNot(_.getFileName.toString == "GraftSession.scala")
        .filter(p => Files.readString(p).contains(needle))
        .map(p => src.relativize(p).toString).toList
      finally walk.close()
    assert(copies.isEmpty, s"session builders outside GraftSession: ${copies.mkString(", ")}")
  }
}
