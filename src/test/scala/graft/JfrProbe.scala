package graft

import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}

import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** In-process JFR for specs: the events of the given types that any
  * thread of this JVM emits while `body` runs. The recording is stopped
  * and dumped before it is read, so no event is lost to a flush delay. */
object JfrProbe {
  def record(types: String*)(body: => Unit): Seq[RecordedEvent] = {
    val rec = new Recording()
    types.foreach(t => rec.enable(t).withoutThreshold())
    val file = Files.createTempFile("graft-probe", ".jfr")
    try {
      rec.start()
      try body finally rec.stop()
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.toSeq
        .filter(e => types.contains(e.getEventType.getName))
    } finally {
      rec.close()
      Files.deleteIfExists(file)
    }
  }

  /** The command line of each OS process started while `body` runs. */
  def processStarts(body: => Unit): Seq[String] =
    record("jdk.ProcessStart")(body).map(_.getString("command"))

  /** The name of each thread started while `body` runs. */
  def threadStarts(body: => Unit): Seq[String] =
    record("jdk.ThreadStart")(body).map(_.getThread("thread").getJavaName)
}
