package graft

import java.io.FileNotFoundException
import java.nio.file.NoSuchFileException

import scala.collection.mutable

import org.apache.spark.sql.AnalysisException

/** The inputs a harness run found missing, each with every query it
  * blocked, in the order first seen: Smoke, Verify and Bench name a
  * missing input once (`MISSING <path> blocks <n>: …`), not once per
  * query that failed on it.
  */
final class MissingInputs {

  private val blocked = mutable.LinkedHashMap.empty[String, Vector[String]]

  /** Record `query`'s failure `t` under the input it names as missing;
    * false when a missing input is not its cause. */
  def record(query: String, t: Throwable): Boolean =
    MissingInputs.path(t) match {
      case Some(p) =>
        val qs = blocked.getOrElse(p, Vector.empty)
        if (!qs.contains(query)) blocked(p) = qs :+ query
        true
      case None => false
    }

  /** One `MISSING <path> blocks <n>: <queries>` line per path. */
  def lines: Seq[String] = blocked.toSeq.map { case (p, qs) =>
    s"MISSING $p blocks ${qs.size}: ${qs.mkString(", ")}"
  }

  /** `{"<path>":["<query>",…],…}`. */
  def json: String = {
    def str(v: String) = "\"" + v.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    blocked.map { case (p, qs) => str(p) + ":" + qs.map(str).mkString("[", ",", "]") }
      .mkString("{", ",", "}")
  }
}

object MissingInputs {

  /** The input path a failure names as missing, when that is its cause. */
  def path(t: Throwable): Option[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).collectFirst {
      case e: AnalysisException if e.getCondition == "PATH_NOT_FOUND" =>
        e.getMessageParameters.get("path")
      case e: NoSuchFileException => e.getFile
      case e: FileNotFoundException => e.getMessage.stripPrefix("File ")
        .stripSuffix(" does not exist").stripSuffix(" (No such file or directory)")
    }.map(_.stripPrefix("file:"))
}
