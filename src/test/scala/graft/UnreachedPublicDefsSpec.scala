package graft

import java.io.File
import scala.sys.process._
import org.scalatest.funsuite.AnyFunSuite

/** Every public name of src/main has a product caller, and every defaulted
  * parameter a caller that passes a second value, or it is allowlisted with
  * a reason. The rules live in one place, `tools/code_size.sh
  * --list-unreached` and `--list-defaulted`; this spec only compares each
  * listing with its allowlist.
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

  /** Fails unless `code_size.sh flag` prints exactly the names of
    * `allowlist`, each of which needs a reason; `extraHint` and `staleHint`
    * say what to do with a name on one side only.
    */
  private def assertListedEqualsAllowlist(flag: String, allowlist: String,
      extraHint: String, staleHint: String): Unit = {
    val listed = Process(Seq("bash", "tools/code_size.sh", flag), root)
      .!!.linesIterator.map(_.trim).filter(_.nonEmpty).toSet
    val source = scala.io.Source.fromFile(new File(root, allowlist), "UTF-8")
    val allowed = try source.getLines().map(_.takeWhile(_ != '#').trim)
      .filter(_.nonEmpty).map(_.split("\\s+", 2)).toSeq finally source.close()
    assert(allowed.forall(_.length == 2), "every allowlisted name needs a reason")
    val names = allowed.map(_(0)).toSet
    val extra = (listed -- names).toSeq.sorted
    val stale = (names -- listed).toSeq.sorted
    assert(extra.isEmpty && stale.isEmpty,
      s"\n${extra.size} $extraHint:\n${extra.mkString("\n")}\n" +
        s"${stale.size} $staleHint:\n${stale.mkString("\n")}")
  }

  test("the unreached public names of src/main are exactly the allowlist") {
    assertListedEqualsAllowlist("--list-unreached", "tools/unreached_allowlist.txt",
      "public names that only tests reach (delete them, or give them a product caller)",
      "allowlisted names that are reached or gone (drop them from the allowlist)")
  }

  test("the defaulted parameters of src/main are exactly the allowlist") {
    assertListedEqualsAllowlist("--list-defaulted", "tools/defaulted_allowlist.txt",
      "defaulted parameters that no caller sets to a second value (make each a " +
        "constant of its operator, or allowlist the caller that varies it)",
      "allowlisted parameters that are gone or no longer defaulted (drop them " +
        "from the allowlist)")
  }
}
