package graft.emulator

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption, StandardOpenOption}
import java.util.concurrent.ConcurrentLinkedDeque
import scala.jdk.CollectionConverters._

/** Append-only query history (reference `_metadata_query_history`,
  * `pkg/metadata/repository.go:87-99,1213-1313`): one start record per
  * statement, completed with status/rows/elapsed on success or failure.
  *
  * In-memory ring capped at `capacity` — the reference's table grows
  * unboundedly; a cap is the scale-sane default. DURABILITY matches the
  * reference's persisted table when `persistPath` is set (the server wires
  * it under the warehouse dir): every COMPLETED record appends one JSON
  * line, a fresh instance hydrates the ring from the file's tail, and the
  * file is compacted back to ring size once it doubles the cap. In-flight
  * (RUNNING) records are not persisted — a restart has killed them anyway.
  */
final class QueryHistory(capacity: Int = 10000,
    persistPath: Option[Path] = None) {

  final case class Record(
      queryId: String,
      sqlText: String,
      status: String, // RUNNING | SUCCESS | FAILED
      rows: Long,
      elapsedMs: Long,
      errorMessage: String,
      startedAt: Long,
      queryTag: String = "")

  private val records = new ConcurrentLinkedDeque[Record]()
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private var appendsSinceCompact = 0

  // hydrate from the persisted tail, oldest line first so addFirst leaves
  // the ring most-recent-first like the live path
  persistPath.foreach { p =>
    if (Files.exists(p)) {
      Files.readAllLines(p, UTF_8).asScala.takeRight(capacity).foreach { ln =>
        try {
          val n = mapper.readTree(ln)
          push(Record(n.get("queryId").asText(), n.get("sqlText").asText(),
            n.get("status").asText(), n.get("rows").asLong(),
            n.get("elapsedMs").asLong(), n.get("errorMessage").asText(),
            n.get("startedAt").asLong(),
            // older persisted lines predate the tag field
            Option(n.get("queryTag")).map(_.asText).getOrElse("")))
        } catch { case _: Exception => () } // torn tail line: skip, keep the rest
      }
    }
  }

  def start(queryId: String, sql: String, queryTag: String = ""): Long = {
    push(Record(queryId, sql, "RUNNING", 0, 0, "", System.currentTimeMillis(),
      queryTag))
    System.nanoTime()
  }

  /** `sql` is unused; `perfbench/agent/TraceMain.java` calls this form. */
  def success(queryId: String, sql: String, rows: Long, t0Nanos: Long): Unit =
    complete(queryId, "SUCCESS", rows, t0Nanos, "")

  def failure(queryId: String, err: String, t0Nanos: Long): Unit =
    complete(queryId, "FAILED", 0, t0Nanos, err)

  private def complete(queryId: String, status: String, rows: Long,
      t0Nanos: Long, err: String): Unit = {
    val elapsed = (System.nanoTime() - t0Nanos) / 1000000L
    records.asScala.find(_.queryId == queryId) match {
      case Some(r) =>
        records.remove(r)
        val done = r.copy(status = status, rows = rows, elapsedMs = elapsed,
          errorMessage = err)
        // push and persist under ONE lock (synchronized is reentrant into
        // persist's own block): a compaction running between them would
        // already include `done` from the ring, and the append would then
        // duplicate the line — a later hydrate would yield the record twice
        synchronized { push(done); persist(done) }
      case None => ()
    }
  }

  private def push(r: Record): Unit = {
    records.addFirst(r)
    while (records.size > capacity) records.pollLast()
  }

  private def jsonLine(r: Record): String = {
    val o = mapper.createObjectNode()
    o.put("queryId", r.queryId); o.put("sqlText", r.sqlText)
    o.put("status", r.status); o.put("rows", r.rows)
    o.put("elapsedMs", r.elapsedMs); o.put("errorMessage", r.errorMessage)
    o.put("startedAt", r.startedAt); o.put("queryTag", r.queryTag)
    o.toString + "\n"
  }

  private def persist(r: Record): Unit = persistPath.foreach { p =>
    synchronized {
      Option(p.getParent).foreach(Files.createDirectories(_))
      Files.write(p, jsonLine(r).getBytes(UTF_8),
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      appendsSinceCompact += 1
      // compact once the file holds ~2x the ring: rewrite it from the ring
      // (temp sibling + atomic rename, same pattern as the staging commit)
      if (appendsSinceCompact >= capacity) {
        val completed = records.asScala.toSeq.reverse.filter(_.status != "RUNNING")
        val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
        Files.write(tmp, completed.map(jsonLine).mkString.getBytes(UTF_8))
        Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING,
          StandardCopyOption.ATOMIC_MOVE)
        appendsSinceCompact = 0
      }
    }
  }

  /** Most-recent-first (reference `ORDER BY started_at DESC LIMIT ?`,
    * `repository.go:1268-1272`). */
  def recent(limit: Int = 100): Seq[Record] =
    records.asScala.take(limit).toSeq
}
