package graft

import java.util.concurrent.{ConcurrentHashMap, CopyOnWriteArrayList}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{Dataset, SparkSession}

import graft.ext.{Dedup, Similarity}

/** A value built once per (session, dir) and read by every consumer in
  * that session: the stored artifacts (checkpointed frames, trained
  * indexes) that several queries share. A new session or a different
  * scale factor builds afresh; concurrent first hits on one key wait
  * for one build.
  *
  * Each memo keeps its own map, because a build may read another memo
  * (the components read the candidate pairs), and one shared
  * `computeIfAbsent` map rejects that as a recursive update.
  *
  * A memo registers itself when it is constructed, so
  * [[SessionMemo.evict]] reaches every memo there is. The first hit of
  * a session adds one listener that drops the session's entries when
  * its application ends, so a long-lived JVM that cycles sessions does
  * not keep their sessions and frames alive. */
private[graft] final class SessionMemo[A](build: (SparkSession, String) => A) {
  private val entries = new ConcurrentHashMap[(SparkSession, String), A]()
  SessionMemo.registry.add(this)

  def apply(s: SparkSession, d: String): A = {
    SessionMemo.hookEviction(s)
    entries.computeIfAbsent((s, d), k => build(k._1, k._2))
  }

  /** Whether an entry of session `s` is held. */
  private[graft] def holds(s: SparkSession): Boolean =
    entries.keySet.asScala.exists(_._1 eq s)

  /** Removes the entries of session `s`, returning their values. */
  private def drop(s: SparkSession): Seq[A] =
    entries.keySet.asScala.toSeq.filter(_._1 eq s)
      .flatMap(k => Option(entries.remove(k)))
}

private[graft] object SessionMemo {
  private val registry = new CopyOnWriteArrayList[SessionMemo[_]]()
  private val hooked = ConcurrentHashMap.newKeySet[SparkSession]()

  /** Every memo constructed so far. */
  private[graft] def registered: Seq[SessionMemo[_]] = registry.asScala.toSeq

  /** The listener only drops entries: the stopping context frees its
    * own blocks, so nothing is unpersisted during shutdown. */
  private def hookEviction(s: SparkSession): Unit =
    if (hooked.add(s))
      s.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
          dropAll(s); ()
        }
      })

  private def dropAll(s: SparkSession): Seq[Any] = {
    hooked.remove(s)
    registered.flatMap(_.drop(s))
  }

  /** Drops every memo entry of session `s` and releases the checkpoints
    * the entries hold: a frame's, or a PQ index's codes, codebooks and
    * coarse quantizer. */
  def evict(s: SparkSession): Unit = dropAll(s).foreach {
    case df: Dataset[_] => Dedup.release(df.toDF())
    case ix: Similarity.PqIndex => Dedup.release(ix.frames: _*)
    case _ => ()
  }
}
