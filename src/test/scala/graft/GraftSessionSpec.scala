package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftSession
import graft.functions.Sketches

/** Session tuning: repeat `tune` calls (every job entry point makes one)
  * keep the engine's functions without re-registering them.
  */
class GraftSessionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Formatted messages of every log event raised while `body` runs. */
  private def logged(body: => Unit): Seq[String] = {
    val seen = new ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("graft-session-spec", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        seen.add(e.getMessage.getFormattedMessage); ()
      }
    }
    appender.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(appender)
    try body finally { root.removeAppender(appender); appender.stop() }
    seen.asScala.toSeq
  }

  private val replaced = "replaced a previously registered function"

  test("a repeat tune keeps every function resolvable and replaces none") {
    val reg = spark.sessionState.functionRegistry
    // the capture sees Spark's warning when a name IS re-registered
    val (name, _, n, build) = Sketches.registry.head
    assert(logged(reg.createOrReplaceTempFunction(name,
      exprs => build(Sketches.arity(name, n)(exprs)), "built-in"))
      .exists(_.contains(replaced)))

    val messages = logged { GraftSession.tune(spark); GraftSession.tune(spark) }
    assert(!messages.exists(_.contains(replaced)), messages.mkString("\n"))
    Sketches.registry.foreach { case (f, _, _, _) =>
      assert(reg.functionExists(FunctionIdentifier(f)), f)
    }
    val dot = spark.sql("select float_vec_dot(array(cast(1 as float), cast(2 as float)), " +
      "array(cast(3 as float), cast(4 as float)))").head().getDouble(0)
    assert(dot == 11.0)
  }
}
