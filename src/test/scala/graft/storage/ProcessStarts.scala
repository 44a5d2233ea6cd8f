package graft.storage

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import jdk.jfr.Name
import jdk.jfr.consumer.{RecordedEvent, RecordingStream}

/** The operating-system processes this JVM starts, from JFR's
  * `jdk.ProcessStart` events.
  */
object ProcessStarts {

  /** One process start: its command line, the starting thread and the
    * starting stack as `class.method`, innermost first.
    */
  final case class Start(command: String, thread: String, frames: Seq[String]) {
    def from(packagePrefix: String): Boolean = frames.exists(_.startsWith(packagePrefix))
    override def toString: String = {
      val site = frames.find(f => Seq("graft.", "org.apache.spark.", "org.apache.hadoop.fs.")
        .exists(f.startsWith))
      s"$command @ ${site.getOrElse("?")} [$thread]"
    }
  }

  @Name("graft.test.ProcessStartsMark")
  final class Mark extends jdk.jfr.Event

  /** Runs `body` and returns every process the JVM started meanwhile. */
  def during(body: => Unit): Seq[Start] = {
    val seen = new ConcurrentLinkedQueue[Start]
    val marked = new CountDownLatch(1)
    val stream = new RecordingStream()
    try {
      stream.enable("jdk.ProcessStart").withStackTrace()
      stream.enable(classOf[Mark])
      stream.onEvent("jdk.ProcessStart", (e: RecordedEvent) => seen.add(start(e)))
      // events arrive in time order, so once the mark committed after
      // `body` is delivered, every process `body` started has been too
      stream.onEvent("graft.test.ProcessStartsMark", (_: RecordedEvent) => marked.countDown())
      stream.startAsync()
      body
      new Mark().commit()
      require(marked.await(60, TimeUnit.SECONDS), "the JFR stream never delivered its mark")
    } finally stream.close()
    seen.asScala.toSeq
  }

  private def start(e: RecordedEvent): Start = {
    val frames = Option(e.getStackTrace).map(_.getFrames.asScala.toSeq).getOrElse(Nil)
      .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")
    Start(e.getString("command"), e.getThread("eventThread").getJavaName, frames)
  }
}
