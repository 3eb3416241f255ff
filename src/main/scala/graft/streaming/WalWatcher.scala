package graft.streaming

import java.nio.file.{Files, Path}

/** WAL-file growth watching (S24) — the reference's sqlite-watcher polls
  * the `<db>-wal` file size every 500 ms and emits growth events,
  * handling truncation (checkpoint) as a size reset
  * (`sqlite-watcher/src/wal.rs:47-124`). Same semantics here as a
  * pure poll-step function — what gets tested, and what a Structured
  * Streaming custom source would wrap.
  */
object WalWatcher {

  final case class WalEvent(bytesAdded: Long, currentSize: Long)

  final case class State(lastSize: Long)

  /** One poll step: compare the current WAL size against the last
    * observation. Growth emits an event; truncation (checkpoint) resets
    * the baseline without emitting; a missing file is size 0. */
  def step(walPath: Path, state: State): (State, Option[WalEvent]) = {
    val size = if (Files.exists(walPath)) Files.size(walPath) else 0L
    if (size > state.lastSize)
      (State(size), Some(WalEvent(size - state.lastSize, size)))
    else if (size < state.lastSize)
      (State(size), None) // truncated by checkpoint — new baseline
    else
      (state, None)
  }
}
