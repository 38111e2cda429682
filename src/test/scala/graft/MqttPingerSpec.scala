package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{MqttBroker, MqttClient}

class MqttPingerSpec extends AnyFunSuite {
  test("stop() ends the msg client's keepalive pinger without an " +
      "uncaught exception") {
    val uncaught = new ConcurrentLinkedQueue[Throwable]
    val prev = Thread.getDefaultUncaughtExceptionHandler
    Thread.setDefaultUncaughtExceptionHandler((_, e) => uncaught.add(e))
    val broker = new MqttBroker((_, _) => ())
    try {
      val port = broker.start()
      val client = new MqttClient("localhost", port, "pinger-spec",
        (_, _) => ())
      client.start(Seq("plant/#" -> 1))
      val pinger = Thread.getAllStackTraces.keySet.asScala
        .find(_.getName == "mqtt-pinger-pinger-spec")
      assert(pinger.isDefined, "no pinger thread after start()")
      client.stop()
      pinger.get.join(5000)
      assert(!pinger.get.isAlive, "pinger outlived stop()")
      assert(uncaught.isEmpty, uncaught.asScala.mkString("; "))
    } finally {
      broker.stop()
      Thread.setDefaultUncaughtExceptionHandler(prev)
    }
  }
}
