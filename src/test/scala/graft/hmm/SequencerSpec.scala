package graft.hmm

import org.scalatest.funsuite.AnyFunSuite

import graft.LocalSpark.{sfDir, spark}

/** The (session, corpus) sequence cache and the one-shuffle build. */
class SequencerSpec extends AnyFunSuite {

  test("two sessions over one dir never share a sequences entry") {
    val other = spark.newSession()
    val mine = Sequencer.sequenceDs(spark, sfDir)
    val theirs = Sequencer.sequenceDs(other, sfDir)
    assert(mine.sparkSession eq spark)
    assert(theirs.sparkSession eq other)
    assert(!(mine eq theirs))
    // each session keeps hitting its own entry
    assert(Sequencer.sequenceDs(spark, sfDir) eq mine)
    assert(Sequencer.sequenceDs(other, sfDir) eq theirs)
    // session keys are minted per session object, never reused
    val keys = Seq.fill(50)(spark.newSession()).map(graft.SessionKey(_))
    assert(keys.distinct.size == keys.size)
    assert(!keys.contains(graft.SessionKey(spark)) && !keys.contains(graft.SessionKey(other)))
  }

  test("the vocabulary is ordered as Spark orders strings, and the sequences use it") {
    val vocab = Sequencer.vocab(spark, sfDir).collect().map(r => (r.getString(0), r.getInt(1)))
    val bySpark = graft.sources.Tables.events(spark, sfDir).select("event_type").distinct()
      .orderBy("event_type").collect().map(_.getString(0))
    assert(vocab.map(_._1).toSeq == bySpark.toSeq)
    assert(vocab.map(_._2).toSeq == vocab.indices)
    // the one-shuffle build equals the vocab joined onto events
    import org.apache.spark.sql.functions._
    val joined = graft.sources.Tables.events(spark, sfDir)
      .join(broadcast(Sequencer.vocab(spark, sfDir)), "event_type")
      .groupBy("user_id").agg(count(lit(1)).as("n"), sum(col("sym").cast("long")).as("s"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val built = Sequencer.sequenceDs(spark, sfDir).collect()
      .map { case (u, syms) => (u, (syms.length.toLong, syms.map(_.toLong).sum)) }.toMap
    assert(built == joined)
  }
}
