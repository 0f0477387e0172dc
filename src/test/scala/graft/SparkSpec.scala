package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one per suite (lazy). Runs under
  * the same fork-free local FS as every runMain entry point
  * ([[graft.fs.FastLocalFs]]), so the full suite validates the
  * filesystem the bench and verify paths actually use. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Session.local(4)

  def relClose(got: Double, exp: Double, tol: Double = 1e-9): Boolean =
    if (exp == 0.0) math.abs(got) < tol
    else math.abs(got - exp) / math.abs(exp) < tol

  def assertRel(got: Double, exp: Double, tol: Double = 1e-9): Unit =
    assert(relClose(got, exp, tol), s"got $got, expected $exp (rel tol $tol)")
}
