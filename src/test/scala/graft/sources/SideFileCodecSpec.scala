package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.hadoop.fs.{FSDataInputStream, LocalFileSystem, Path}

import graft.SparkSpec

/** The lake's metadata side files (`_constraints`, `_properties`,
  * `_generated`, `_identity`, `_colmap`) all go through one codec
  * ([[LakeIo.readRows]]/[[LakeIo.writeRows]]): URL-encoded,
  * tab-separated fields, one row per line. The on-disk bytes are pinned
  * as literals, so tables written before the codec existed read the
  * same, and a read racing a republish retries like every other
  * atomically published metadata file.
  */
class SideFileCodecSpec extends SparkSpec {

  private def newTable(): LakeTable =
    LakeTable(spark, Files.createTempDirectory("graft_sidefile").toString + "/t")

  private def sideFile(t: LakeTable, name: String) =
    Paths.get(t.path, LakeTable.LogDirName, name)

  private def bytesOf(t: LakeTable, name: String): String =
    new String(Files.readAllBytes(sideFile(t, name)), UTF_8)

  // every input carries a tab, a newline, %, +, =, a space or non-ASCII
  // text; one property is empty and one identity counts downwards
  private val Cons = Map(
    "c\tname %+=é" -> "v <> 'a\tb\nc %+= é'", "b_plain" -> "v IS NOT NULL")
  private val Props = Map("p\tkey\n%+= é" -> "v\tal\nue %+= é", "empty" -> "")
  private val Gens = Map("g %+=é" -> "concat(v, 'x\ty\n% + = é')")
  private val Ids = Map("id\t%+= é" -> (-5L, -3L), "id2" -> (0L, 1L))
  private val Mapping = Map("logical\t%+= é" -> "phys\nname %+=é", "same" -> "same")
  private val Retired = Set("old\t%+= é", "r2")

  test("golden: each side file holds its pinned bytes and parses back to its values") {
    val t = newTable()
    t.saveConstraints(Cons)
    t.saveProperties(Props)
    t.saveGenerated(Gens)
    t.saveIdentity(Ids)
    t.saveColMap(Mapping, Retired)
    assert(bytesOf(t, LakeTable.ConstraintsFileName) ===
      "b_plain\tv+IS+NOT+NULL\n" +
      "c%09name+%25%2B%3D%C3%A9\tv+%3C%3E+%27a%09b%0Ac+%25%2B%3D+%C3%A9%27")
    assert(bytesOf(t, LakeTable.PropertiesFileName) ===
      "empty\t\n" +
      "p%09key%0A%25%2B%3D+%C3%A9\tv%09al%0Aue+%25%2B%3D+%C3%A9")
    assert(bytesOf(t, LakeTable.GeneratedFileName) ===
      "g+%25%2B%3D%C3%A9\tconcat%28v%2C+%27x%09y%0A%25+%2B+%3D+%C3%A9%27%29")
    assert(bytesOf(t, LakeTable.IdentityFileName) ===
      "id%09%25%2B%3D+%C3%A9\t-5\t-3\n" +
      "id2\t0\t1")
    assert(bytesOf(t, LakeTable.ColMapFileName) ===
      "m\tlogical%09%25%2B%3D+%C3%A9\tphys%0Aname+%25%2B%3D%C3%A9\n" +
      "r\told%09%25%2B%3D+%C3%A9\n" +
      "r\tr2")
    assert(t.constraints === Cons)
    assert(t.tableProperties === Props)
    assert(t.generatedColumns === Gens)
    assert(t.identityColumns === Ids)
    // the trivial logical == physical entry is not stored
    assert(t.columnMapping === ((Mapping - "same", Retired)))
  }

  test("malformed: a bad line in each side file raises IllegalStateException naming the file") {
    val t = newTable()
    t.saveConstraints(Map("a" -> "b"))
    val cases: Seq[(String, String, () => Any)] = Seq(
      (LakeTable.ConstraintsFileName, "no-tab-here", () => t.constraints),
      (LakeTable.PropertiesFileName, "just-a-name", () => t.tableProperties),
      (LakeTable.GeneratedFileName, "a\t%zz", () => t.generatedColumns),
      (LakeTable.IdentityFileName, "id\tone\t1", () => t.identityColumns),
      (LakeTable.IdentityFileName, "id\t1", () => t.identityColumns),
      (LakeTable.ColMapFileName, "x\ta\tb", () => t.columnMapping),
      (LakeTable.ColMapFileName, "r\ta\tb", () => t.columnMapping))
    cases.foreach { case (name, line, read) =>
      Files.write(sideFile(t, name), s"$line\n".getBytes(UTF_8))
      val e = intercept[IllegalStateException](read())
      assert(e.getMessage.contains(s"${LakeTable.LogDirName}/$name"), e.getMessage)
      assert(e.getMessage.contains("unreadable"), e.getMessage)
      Files.delete(sideFile(t, name))
    }
  }

  test("race: a side file that vanishes between exists and open is re-read, not an error") {
    val t = newTable()
    Files.createDirectories(sideFile(t, LakeTable.ConstraintsFileName).getParent)
    Files.write(sideFile(t, LakeTable.ConstraintsFileName),
      "b_plain\tv+IS+NOT+NULL".getBytes(UTF_8))
    // `exists` says true; the first `open` finds the name gone, as when
    // a concurrent republish renames over it between the two calls
    val armed = new AtomicBoolean(true)
    val racy = new LocalFileSystem {
      override def open(f: Path, bufferSize: Int): FSDataInputStream =
        if (f.getName == LakeTable.ConstraintsFileName && armed.getAndSet(false))
          throw new FileNotFoundException(s"$f vanished under the reader")
        else super.open(f, bufferSize)
    }
    racy.initialize(URI.create("file:///"), spark.sessionState.newHadoopConf())
    LakeTable.fsDecoratorForTest = _ => racy
    try assert(t.constraints === Map("b_plain" -> "v IS NOT NULL"))
    finally LakeTable.fsDecoratorForTest = identity(_)
    assert(!armed.get, "the injected vanish never fired")
  }
}
