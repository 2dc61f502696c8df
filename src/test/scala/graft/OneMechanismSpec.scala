package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source scan of `src/main`: each viewer-state decision has one
  * mechanism. Config tables are read only through
  * `graft.model.TinyTable.read`, so its crash recovery and schema
  * evolution cover every store; tracked queries are marked with job tags
  * only (`graft.query.QueryControl`), never with job groups, which
  * replace and then wipe the caller's group.
  */
class OneMechanismSpec extends AnyFunSuite {

  private lazy val sources: Seq[(Path, String)] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"no sources at ${root.toAbsolutePath}")
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map(p => p -> Files.readString(p))
    finally walk.close()
  }

  test("a file that writes a TinyTable reads it back only through TinyTable.read") {
    assert(sources.exists(_._2.contains("TinyTable.write")))
    val own = sources.collect {
      case (p, s) if s.contains("TinyTable.write") &&
          s.contains("spark.read.parquet") => p
    }
    assert(own.isEmpty, s"config tables read around TinyTable.read: $own")
  }

  test("no job groups: tracked queries are marked with job tags") {
    val groups = sources.collect {
      case (p, s) if "setJobGroup|clearJobGroup|cancelJobGroup".r
          .findFirstIn(s).isDefined => p
    }
    assert(groups.isEmpty, s"job-group calls in $groups")
  }
}
