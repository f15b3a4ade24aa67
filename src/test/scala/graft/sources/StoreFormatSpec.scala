package graft.sources

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The shard store's format has one owner, read from the source text
  * with no Spark session: under src/main only the store's file names a
  * `shard-N` directory or a `batch-` file, or builds or parses the
  * `{"sequenceNumber":…}` record line. A second copy of those rules is
  * how a writer once restarted its sequences at 0 over an existing
  * store. */
class StoreFormatSpec extends AnyFunSuite {

  private val StoreFile = "sources/SimulatedKinesis.scala"

  // a path or line literal, not a word inside another name
  private val FormatLiteral = """(?<![\w-])(?:shard-|batch-)|"sequenceNumber":""".r

  /** The source with comments removed, so docs may name the layout. */
  private def code(src: String): String =
    src.replaceAll("""(?s)/\*.*?\*/""", "").replaceAll("""(?m)//.*$""", "")

  private def owners(root: Path): Seq[String] = {
    val st = Files.walk(root)
    try st.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .filter(f => FormatLiteral.findFirstIn(code(Files.readString(f))).nonEmpty)
      .map(root.relativize(_).toString.replace('\\', '/')).sorted
    finally st.close()
  }

  test("only the store builds shard paths, batch names and record lines") {
    // the reader itself: a literal in code counts, one in a comment or
    // inside a longer word does not
    assert(FormatLiteral.findFirstIn(code("""val p = s"$dir/shard-$s"""")).nonEmpty)
    assert(FormatLiteral.findFirstIn(
      code("val l = s\"\"\"{\"sequenceNumber\":\"$n\"}\"\"\"")).nonEmpty)
    assert(FormatLiteral.findFirstIn(code(
      "// dir/shard-N/batch-000000.json\n/** `shard-N` */ val micro-batch-size = 1")).isEmpty)
    val root = Paths.get("src", "main", "scala", "graft")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    assert(owners(root) == Seq(StoreFile),
      s"files that know the shard-store format: ${owners(root)}")
  }
}
