package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** The output gate's own test: a pristine index passes, and the same
  * index with one donor doc removed, or one field of one donor doc
  * changed, is rejected.
  *
  *   perfbench.GateTest <index dir> <corpus manifest> <scratch dir>
  */
object GateTest {
  def main(args: Array[String]): Unit = {
    val Array(indexDir, manifest, scratch) = args
    val m = Manifest.read(manifest)
    val pristine = Gate.checkIndexes(indexDir, m, None)
    require(pristine.errors.isEmpty,
      s"the pristine index fails the gate: ${pristine.errors}")

    /** Copy the index, edit its first donors part file, run the gate. */
    def tampered(name: String)(edit: Seq[String] => Seq[String]): Seq[String] = {
      val src = Paths.get(indexDir)
      val dst = Paths.get(scratch, name)
      Files.walk(src).iterator().asScala.foreach { p: Path =>
        val to = dst.resolve(src.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(to)
        else Files.copy(p, to)
      }
      val part = Gate.partFiles(s"$dst/donors", ".json")
        .find(_.length > 0).get.toPath
      val lines = Files.readAllLines(part).asScala.toSeq
      val edited = edit(lines)
      require(edited != lines, s"$name: the edit changed nothing")
      Files.write(part, edited.asJava)
      Gate.checkIndexes(dst.toString, m, Some(pristine.digest)).errors
    }

    val removed = tampered("removed")(_.drop(1))
    val changed = tampered("changed")(ls => ls.updated(0,
      ls.head.replaceFirst("\"gender\":\"", "\"gender\":\"X")))
    require(removed.nonEmpty, "the gate accepts an index missing a donor doc")
    require(changed.nonEmpty, "the gate accepts a donor doc with a changed field")
    println(s"gate passes the pristine index (digest ${pristine.digest})")
    println(s"gate rejects a removed donor doc: ${removed.mkString("; ")}")
    println(s"gate rejects a changed field: ${changed.mkString("; ")}")
  }
}
