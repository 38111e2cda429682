package graft.streaming

import java.nio.file.{Files, Path, StandardCopyOption}

/** The one way a transport lands a file in a watched directory (Kafka
  * consumer, PLC poller, MQTT msg client, and the `.err` quarantine
  * beside them).
  *
  * Spark's file source needs a file to appear whole: a trigger that
  * lists a file still being written reads a truncated row and marks
  * the path seen for good. So the bytes go to a hidden staging dir
  * beside the target's dir (`.<dir>.landing`, skipped by the file
  * source and never listed by a reader of the dir itself) and one
  * atomic rename publishes the finished file — the pattern
  * `Catalog.persist` and `BlobStore` use. A crash mid-write leaves only
  * a staged temp, never a torn landing. Callers ack or journal AFTER
  * `write` returns, so delivery stays at-least-once. */
object Landing {
  def write(target: Path, content: String): Unit = {
    val dir = target.toAbsolutePath.getParent
    val stage = dir.resolveSibling(s".${dir.getFileName}.landing")
    Files.createDirectories(stage)
    val tmp = stage.resolve(
      s"${target.getFileName}.${java.util.UUID.randomUUID}")
    try {
      Files.writeString(tmp, content)
      try Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
      catch {
        case _: java.nio.file.AtomicMoveNotSupportedException =>
          // the watch dir is a mount point of its own: a plain move
          // keeps the landing, losing only the atomicity upgrade
          Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING)
      }
    } finally Files.deleteIfExists(tmp)
  }
}
