package graft

import org.scalactic.source.Position
import org.scalatest.funsuite.AnyFunSuite

/** The reference's own test fixtures, read in place from its checkout.
  * A test that reads them first asserts the checkout is there, so on a host
  * without it each such test fails with one line that names the missing
  * directory instead of a Spark PATH_NOT_FOUND stack trace.
  */
trait ReferenceData { this: AnyFunSuite =>

  protected val refData = "/root/reference/test/data"

  protected def refTest(name: String)(body: => Any)(implicit pos: Position): Unit =
    test(name) {
      val checkoutPresent = new java.io.File(refData).isDirectory
      assert(checkoutPresent, s"reference test data checkout missing: $refData")
      body
    }
}
