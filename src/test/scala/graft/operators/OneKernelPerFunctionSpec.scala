package graft.operators

import java.io.File
import scala.sys.process._
import org.scalatest.funsuite.AnyFunSuite

/** Every native function has ONE body: a `RuntimeReplaceable` whose
  * replacement invokes its Scala kernel, so the interpreted and the
  * generated path run the same method. A hand-written `doGenCode` would be
  * a second body that must stay bit-identical to the first; the counter
  * `hand_codegen` of `tools/code_size.sh` counts them and stays at 0.
  */
class OneKernelPerFunctionSpec extends AnyFunSuite {

  /** The repository root: the nearest directory at or above the working
    * directory that holds the script.
    */
  private val root: File =
    Iterator.iterate(new File(sys.props("user.dir")).getAbsoluteFile)(_.getParentFile)
      .takeWhile(_ != null)
      .find(d => new File(d, "tools/code_size.sh").isFile)
      .getOrElse(fail("tools/code_size.sh not found above " + sys.props("user.dir")))

  test("no native function writes its generated code by hand") {
    val counters = Process(Seq("bash", "tools/code_size.sh"), root).!!.linesIterator
      .map(_.trim.split("\\s+")).collect { case Array(k, v) => k -> v }.toMap
    assert(counters.get("hand_codegen").contains("0"),
      s"hand_codegen = ${counters.get("hand_codegen")}: make each such expression a " +
        "RuntimeReplaceable whose replacement is a StaticInvoke (or Invoke) of its " +
        "kernel (grep -rn 'def doGenCode' src/main/scala/graft)")
  }
}
