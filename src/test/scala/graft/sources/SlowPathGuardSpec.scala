package graft.sources

import java.io.File
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** Keeps two measured slow paths out of the program sources. On Hadoop's
  * local filesystem without the native library, a recursive
  * `listFiles(path, true)` or `listLocatedStatus` builds a
  * `LocatedFileStatus` per entry, whose `getPermission()` forks `ls -ld`
  * once per file and directory; `ParquetFileReader.open(file)` without a
  * read-options argument parses a fresh Hadoop `Configuration` per open.
  * Both sat on the per-trigger admission path (see [[RecordAdmission]]).
  */
class SlowPathGuardSpec extends AnyFunSuite {

  /** The comma-separated top-level arguments of the call whose opening
    * parenthesis is at `open`, or None when it is not closed.
    */
  private def callArgs(code: String, open: Int): Option[Seq[String]] = {
    val args = Seq.newBuilder[String]
    var depth = 0; var start = open + 1; var i = open
    while (i < code.length) {
      code(i) match {
        case '(' | '[' | '{' => depth += 1
        case ')' | ']' | '}' =>
          depth -= 1
          if (depth == 0) return Some((args += code.substring(start, i).trim).result().filter(_.nonEmpty))
        case ',' if depth == 1 => args += code.substring(start, i).trim; start = i + 1
        case _ =>
      }
      i += 1
    }
    None
  }

  private def calls(code: String, name: String): Iterator[Seq[String]] =
    s"""\\b${name.replace(".", "\\s*\\.\\s*")}\\s*\\(""".r.findAllMatchIn(code)
      .flatMap(m => callArgs(code, m.end - 1))

  /** Every slow-path call in `source`, comments excluded. */
  private def violations(source: String): Seq[String] = {
    val code = source.replaceAll("(?s)/\\*.*?\\*/", " ").replaceAll("//[^\n]*", " ")
    calls(code, "listFiles").collect {
      case Seq(_, recursive) if recursive == "true" => "recursive listFiles(..., true)"
    }.toSeq ++
      calls(code, "listLocatedStatus").map(_ => "listLocatedStatus").toSeq ++
      calls(code, "ParquetFileReader.open").collect {
        case args if args.size == 1 => "ParquetFileReader.open without read options"
      }.toSeq
  }

  test("the detector flags each slow call and passes its fast form") {
    assert(violations("val it = fs.listFiles(root, true)") == Seq("recursive listFiles(..., true)"))
    assert(violations("fs.listLocatedStatus(dir)") == Seq("listLocatedStatus"))
    assert(violations("ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))") ==
      Seq("ParquetFileReader.open without read options"))
    assert(violations(
      """org.apache.parquet.hadoop.ParquetFileReader
        |  .open(in)""".stripMargin).size == 1)
    assert(violations("fs.listFiles(root, false); dir.listFiles(); fs.listStatus(dir)").isEmpty)
    assert(violations("ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf), readOptions)").isEmpty)
    assert(violations("// fs.listFiles(root, true)\n/** ParquetFileReader.open(in) */").isEmpty)
  }

  test("src/main/scala makes no recursive listFiles, listLocatedStatus or option-less footer open") {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root: ${root.getAbsolutePath}")
    def scalaFiles(d: File): Seq[File] = Option(d.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) scalaFiles(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }
    val files = scalaFiles(root)
    assert(files.exists(_.getName == "GraftShardsProvider.scala"))
    val found = for {
      f <- files
      v <- violations(new String(Files.readAllBytes(f.toPath), "UTF-8"))
    } yield s"${f.getPath}: $v"
    assert(found.isEmpty, found.mkString("slow-path calls:\n", "\n", ""))
  }
}
