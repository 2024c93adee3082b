package graft

import org.scalatest.Reporter
import org.scalatest.events._

/** Ends a test run with one JSON line: how many tests succeeded, failed,
  * were ignored and were canceled, and the suite and test name of every
  * failure (an aborted suite counts as one, named by the suite). So a
  * failed run names what failed in one line a script can read.
  * Registered in build.sbt with ScalaTest's `-C` option. */
class SummaryReporter extends Reporter {
  private var succeeded, failed, ignored, canceled = 0
  private val failures = Vector.newBuilder[(String, String)]

  def apply(event: Event): Unit = synchronized {
    event match {
      case _: TestSucceeded => succeeded += 1
      case e: TestFailed =>
        failed += 1
        failures += e.suiteClassName.getOrElse(e.suiteName) -> e.testName
      case e: SuiteAborted  => failures += e.suiteClassName.getOrElse(e.suiteName) -> "(suite aborted)"
      case _: TestIgnored   => ignored += 1
      case _: TestCanceled  => canceled += 1
      case _: RunCompleted | _: RunStopped | _: RunAborted => println(summary)
      case _ => ()
    }
  }

  private def summary: String = {
    def str(s: String) = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    } + "\""
    val named = failures.result()
      .map { case (suite, test) => s"""{"suite":${str(suite)},"test":${str(test)}}""" }
    s"""{"succeeded":$succeeded,"failed":$failed,"ignored":$ignored,"canceled":$canceled,""" +
      s""""failures":${named.mkString("[", ",", "]")}}"""
  }
}
