package graft.perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Local-file helpers: trees and byte counts. */
object Fs {
  def list(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else scala.util.Using.resource(Files.list(dir))(_.iterator.asScala.toList.sorted)

  def files(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else scala.util.Using.resource(Files.walk(dir))(
      _.iterator.asScala.filter(Files.isRegularFile(_)).toList)

  def treeBytes(dir: Path): Long = files(dir).map(Files.size).sum

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir))
      scala.util.Using.resource(Files.walk(dir))(
        _.iterator.asScala.toList.reverse.foreach(Files.deleteIfExists))

  /** (size, mtime) of every file under `dir`: the state that
    * [[bytesWritten]] diffs against. */
  def state(dirs: Path*): Map[Path, (Long, Long)] =
    dirs.flatMap(files).map(p => p -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)).toMap

  /** Bytes of every file under `dirs` that is new or changed since `before`. */
  def bytesWritten(before: Map[Path, (Long, Long)], dirs: Path*): Long =
    state(dirs: _*).collect { case (p, sm) if !before.get(p).contains(sm) => sm._1 }.sum
}
