package graft.core

/** Memory-adaptive batch sizing — reference `calculate_optimal_batch_size`
  * (`src/utils.rs:1545-1578`): rows/batch = 25% of available memory at
  * ~2 KB/row, clamped to [1 000, 50 000]. In Spark the executor manages
  * memory, so these feed `fetchsize`/`batchsize` JDBC options and the
  * sync loop's page size rather than manual Vec capacities.
  */
object BatchSizing {

  val BytesPerRowEstimate: Long = 2048
  val MinBatch: Int = 1000
  val MaxBatch: Int = 50000
  val DefaultBatch: Int = 10000

  def optimalBatchSize(availableMemBytes: Long): Int = {
    val budget = availableMemBytes / 4
    val rows = budget / BytesPerRowEstimate
    math.max(MinBatch, math.min(MaxBatch, rows)).toInt
  }

  /** Byte-aware batch target (~10 MB, ≤1000 rows, ≥1) for width-skewed
    * rows — the JSONB writer's sizing (`src/jsonb/writer.rs:406-436`). */
  def byteAwareBatchRows(avgRowBytes: Long, targetBytes: Long = 10L << 20,
                         maxRows: Int = 1000): Int =
    math.max(1, math.min(maxRows, targetBytes / math.max(1, avgRowBytes))).toInt
}
