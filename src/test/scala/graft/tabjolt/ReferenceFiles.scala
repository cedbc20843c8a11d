package graft.tabjolt

import java.nio.file.{Files, Paths}

/** The reference repo's four sample files that the golden specs read. */
object ReferenceFiles {
  val Names: Seq[String] =
    Seq("summary_line.csv", "wincounter.tsv", "modified_workbook.csv", "rejected.txt")

  /** Fails the calling test with one message naming every sample file
    * missing under `dir`, rather than the first read's raw
    * NoSuchFileException. The files are not vendored in the repo and
    * cannot be rebuilt from it, so a missing one is a failure, never a
    * skip. */
  def requireIn(dir: String): Unit = {
    val missing = Names.map(Paths.get(dir, _)).filterNot(Files.isRegularFile(_))
    if (missing.nonEmpty)
      org.scalatest.Assertions.fail(
        s"reference sample files missing: ${missing.mkString(", ")} " +
          s"(the golden suite needs all of ${Names.mkString(", ")} in $dir)")
  }
}
