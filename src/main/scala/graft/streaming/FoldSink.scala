package graft.streaming

import org.apache.spark.SparkContext
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, TableCapability}
import org.apache.spark.sql.connector.write.{DataWriter, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.StructType

/** The fold rule both halves of a [[Continuous]] fold commit share, over
  * rows as value arrays in the partial's schema: rows with equal values
  * at `keyIdx` fold into one, their `longs` measures by
  * `Math.addExact` and their `decimals` by exact BigDecimal addition. A
  * null measure adds nothing, and a measure that is still null takes
  * the next value — SQL `sum`'s null rule. Serializable: each task
  * folds its own rows with it, and the driver folds the task partials
  * into the snapshot with it. */
private[streaming] final case class Fold(keyIdx: Seq[Int], longs: Seq[Int],
    decimals: Seq[Int]) {
  def into(acc: scala.collection.mutable.HashMap[Seq[Any], Array[Any]],
      r: Array[Any]): Unit = {
    val a = acc.getOrElseUpdate(keyIdx.map(r(_)), r)
    def add(i: Int)(f: (Any, Any) => Any): Unit =
      if (a(i) == null) a(i) = r(i)
      else if (r(i) != null) a(i) = f(a(i), r(i))
    if (a ne r) {
      longs.foreach(add(_)((x, y) =>
        Math.addExact(x.asInstanceOf[Long], y.asInstanceOf[Long])))
      decimals.foreach(add(_)((x, y) => x.asInstanceOf[java.math.BigDecimal]
        .add(y.asInstanceOf[java.math.BigDecimal])))
    }
  }
}

/** The continuous tier's partial-return sink — Quatrain's `preturn`
  * (one request answered by many partial returns) as a DSv2 streaming
  * write. Every commit plans scan + partial + write as ONE stage: each
  * task folds its rows by `fold` into one row per key (at most `maxRows`
  * of them) and returns that partial as its commit message, and
  * `onCommit(epochId, parts)` receives every task's partial rows on the
  * stream thread once the commit's job succeeds. Nothing is stored: the
  * caller owns the accumulator. `query` names the stream and labels each
  * commit's job `"<query>: partial aggregate"`. */
private[streaming] final class FoldSink(sc: SparkContext, query: String,
    partialSchema: StructType, fold: Fold, maxRows: Int,
    onCommit: (Long, Iterator[Array[Any]]) => Unit) extends SupportsWrite {
  override def name(): String = query
  override def schema(): StructType = partialSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.STREAMING_WRITE)

  private val streaming = new StreamingWrite {
    // runs on the stream thread just before the commit's write job starts;
    // Spark resets the description when the next batch begins
    override def createStreamingWriterFactory(
        info: PhysicalWriteInfo): StreamingDataWriterFactory = {
      sc.setJobDescription(s"$query: partial aggregate")
      FoldWriterFactory(query, partialSchema, fold, maxRows)
    }
    override def commit(epochId: Long,
        messages: Array[WriterCommitMessage]): Unit =
      onCommit(epochId,
        messages.iterator.flatMap(_.asInstanceOf[TaskPartial].rows))
    // nothing to undo: the caller's accumulator dies with the failed stream
    override def abort(epochId: Long,
        messages: Array[WriterCommitMessage]): Unit = ()
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toStreaming(): StreamingWrite = streaming
      }
    }
}

/** One task's folded rows, returned as its commit message. */
private final case class TaskPartial(rows: Array[Array[Any]])
    extends WriterCommitMessage

/** The serializable half of [[FoldSink]]: one writer per task, which
  * converts each row with one converter and folds it into the task's
  * partial, refusing a partial wider than `maxRows`. */
private final case class FoldWriterFactory(query: String,
    partialSchema: StructType, fold: Fold, maxRows: Int)
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] = new DataWriter[InternalRow] {
    private val toRow =
      CatalystTypeConverters.createToScalaConverter(partialSchema)
    private val acc =
      scala.collection.mutable.HashMap.empty[Seq[Any], Array[Any]]
    override def write(record: InternalRow): Unit = {
      val r = toRow(record).asInstanceOf[Row]
      fold.into(acc, Array.tabulate(r.length)(r.get))
      require(acc.size <= maxRows,
        s"$query commit $epochId partial exceeds maxRows=$maxRows")
    }
    override def commit(): WriterCommitMessage =
      TaskPartial(acc.valuesIterator.toArray)
    override def abort(): Unit = ()
    override def close(): Unit = ()
  }
}
