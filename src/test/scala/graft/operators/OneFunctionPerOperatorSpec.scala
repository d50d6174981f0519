package graft.operators

import java.lang.reflect.Modifier
import org.scalatest.funsuite.AnyFunSuite

/** Every public name in the `graft.operators` objects is ONE function: an
  * operator is a function over frames (optional parameters carry defaults),
  * and a roster query binds its tables and parameters in
  * `graft.SparkEntry.queries` — never through a second, forwarding overload.
  */
class OneFunctionPerOperatorSpec extends AnyFunSuite {

  /** The package's Scala objects (module classes), nested ones included. */
  private def operatorObjects: Seq[Class[_]] = {
    val dir = new java.io.File(
      DedupOps.getClass.getResource("DedupOps$.class").toURI).getParentFile
    dir.listFiles().toSeq.map(_.getName)
      .filter(n => n.endsWith("$.class") && !n.contains("$$"))
      .sorted
      .map(n => Class.forName("graft.operators." + n.stripSuffix(".class")))
      .filter(c => c.getDeclaredFields.exists(_.getName == "MODULE$"))
  }

  test("no public name in the graft.operators objects is defined twice") {
    val objects = operatorObjects
    assert(objects.size > 10, s"object scan found too few objects: $objects")
    val twice = for {
      c <- objects
      (name, ms) <- c.getDeclaredMethods.toSeq
        .filter(m => Modifier.isPublic(m.getModifiers) && !m.isSynthetic &&
          !m.isBridge && !m.getName.contains("$"))
        .groupBy(_.getName)
      if ms.size > 1
    } yield s"${c.getName.stripSuffix("$")}.$name (${ms.size})"
    if (twice.nonEmpty)
      fail(s"${twice.size} overloaded operator names:\n${twice.sorted.mkString("\n")}")
  }
}
