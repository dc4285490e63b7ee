package graft

import org.scalatest.Reporter
import org.scalatest.events.{Event, RunCompleted, TestCanceled}

/** ScalaTest reporter (registered with `-C` in build.sbt) that ends a run
  * with every canceled test and its reason. The scale and parity gates
  * cancel themselves when their inputs are absent; without this list a
  * run with 30 canceled gates reads "All tests passed".
  */
class CanceledReminder extends Reporter {
  private val canceled = scala.collection.mutable.ArrayBuffer.empty[String]

  def apply(event: Event): Unit = event match {
    case t: TestCanceled =>
      canceled.synchronized { canceled += s"${t.suiteName}: ${t.testName} -- ${t.message}"; () }
    case _: RunCompleted => canceled.synchronized {
      if (canceled.nonEmpty) {
        println(s"${canceled.size} test(s) CANCELED:")
        canceled.foreach(c => println(s"  $c"))
      }
    }
    case _ => ()
  }
}
