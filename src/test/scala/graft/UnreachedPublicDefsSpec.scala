package graft

import java.io.File
import scala.sys.process._
import org.scalatest.funsuite.AnyFunSuite

/** Every public name of src/main has a product caller, or it is allowlisted
  * with a reason. The rule lives in one place, `tools/code_size.sh
  * --list-unreached`; this spec only compares its listing with
  * `tools/unreached_allowlist.txt`.
  */
class UnreachedPublicDefsSpec extends AnyFunSuite {

  /** The repository root: the nearest directory at or above the working
    * directory that holds the script.
    */
  private val root: File =
    Iterator.iterate(new File(sys.props("user.dir")).getAbsoluteFile)(_.getParentFile)
      .takeWhile(_ != null)
      .find(d => new File(d, "tools/code_size.sh").isFile)
      .getOrElse(fail("tools/code_size.sh not found above " + sys.props("user.dir")))

  test("the unreached public names of src/main are exactly the allowlist") {
    val listed = Process(Seq("bash", "tools/code_size.sh", "--list-unreached"), root)
      .!!.linesIterator.map(_.trim).filter(_.nonEmpty).toSet
    val source = scala.io.Source.fromFile(new File(root, "tools/unreached_allowlist.txt"), "UTF-8")
    val allowed = try source.getLines().map(_.takeWhile(_ != '#').trim)
      .filter(_.nonEmpty).map(_.split("\\s+", 2)).toSeq finally source.close()
    assert(allowed.forall(_.length == 2), "every allowlisted name needs a reason")
    val names = allowed.map(_(0)).toSet
    val extra = (listed -- names).toSeq.sorted
    val stale = (names -- listed).toSeq.sorted
    assert(extra.isEmpty && stale.isEmpty,
      s"\n${extra.size} public names that only tests reach (delete them, or give " +
        s"them a product caller):\n${extra.mkString("\n")}\n" +
        s"${stale.size} allowlisted names that are reached or gone (drop them from " +
        s"the allowlist):\n${stale.mkString("\n")}")
  }
}
