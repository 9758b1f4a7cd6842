package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.Bridge

/** The one owner of query-local pins.
  *
  * A pin is a direct `localCheckpoint` (its plan root is the checkpoint
  * RDD): iterative rounds and consumed-twice intermediates are pinned so a
  * plan stays O(1) deep and no upstream pipeline reruns. `Dataset.unpersist`
  * cannot reach that storage, so without an owner every pin lives for the
  * life of the session.
  *
  * THE RULE: a query pins inside a [[Pins.scope]] (or [[Pins.result]]);
  * every pin the scope still holds is freed when the scope exits, whether
  * the body returned or threw. A superseded loop round is freed early with
  * [[release]]. A function that hands a pin to its caller — a library
  * result such as `Components.connectedComponents` or `KMeans.fit`, or a
  * query's returned result checkpoint — returns it unowned ([[disown]] /
  * [[Pins.result]]), and the caller owns it ([[own]] it into a scope).
  *
  * Pins with another lifetime have other owners: [[StandingState]]
  * registry pins live for the process; a streaming operator's static
  * tables live until its query terminates (the operator closes the
  * `Pins` it opened from its termination listener). */
final class Pins extends AutoCloseable {
  private val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  /** Eagerly `localCheckpoint` `df` and hold the pin. */
  def pin(df: DataFrame): DataFrame = own(df.localCheckpoint())

  /** Hold an already-made direct checkpoint (a `connectedComponents`
    * result, a `Bridge.checkpointPartitioned` frame). */
  def own(ck: DataFrame): DataFrame = { held += ck; ck }

  /** Free one pin now — the superseded round of a loop. */
  def release(ck: DataFrame): Unit = {
    drop(ck)
    Bridge.unpersistLocalCheckpoint(ck)
  }

  /** Hand a pin out of the scope unfreed; the caller now owns it. A frame
    * the scope does not hold is returned as is. */
  def disown(ck: DataFrame): DataFrame = { drop(ck); ck }

  /** Free every pin still held. */
  def close(): Unit = {
    held.foreach(Bridge.unpersistLocalCheckpoint)
    held.clear()
  }

  private def drop(ck: DataFrame): Unit = {
    val i = held.lastIndexWhere(_ eq ck)
    if (i >= 0) held.remove(i)
  }
}

object Pins {
  /** Run `body` with a fresh scope; free what it still holds on exit (a
    * failure to free never masks the body's own exception). */
  def scope[T](body: Pins => T): T = scala.util.Using.resource(new Pins)(body)

  /** The usual query shape: build a plan over scope-owned pins,
    * `localCheckpoint` it, free the pins, and return the result — a
    * direct checkpoint the caller owns. */
  def result(body: Pins => DataFrame): DataFrame =
    scope(p => body(p).localCheckpoint())
}
