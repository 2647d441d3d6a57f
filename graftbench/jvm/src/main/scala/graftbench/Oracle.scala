package graftbench

import java.util.concurrent.{Callable, Executors}
import scala.jdk.CollectionConverters._
import graft.core.{ConvParser, FixtureGen, TurnResult, TurnSlim}

/** The reference answer: `ConvParser` applied to each generated
  * conversation directly, on driver threads, with no Spark in between. */
object Oracle {
  def turns(p: FixtureGen.Profile, conv: Long): IndexedSeq[TurnSlim] =
    FixtureGen.conversation(p, conv).map(t => TurnSlim(t.conv_id, t.turn_idx, t.text))

  def results(p: FixtureGen.Profile, conv: Long): Iterator[TurnResult] = {
    val ts = turns(p, conv)
    ConvParser.parse(ts.head.conv_id, ts)
  }

  def convDigest(p: FixtureGen.Profile, conv: Long): Digest =
    Digest.fold(results(p, conv).map(Digest.hashTurn))

  /** Digest of conversations [from, until), split over `threads` driver
    * threads. The FSM emits one result per input turn, so its count is the
    * number of input turns. */
  def digest(p: FixtureGen.Profile, from: Long, until: Long, threads: Int): Digest = {
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val chunks = (from until until by 64L).map { lo =>
        new Callable[Digest] {
          def call(): Digest = (lo until math.min(lo + 64L, until))
            .foldLeft(Digest.empty)((d, c) => d + convDigest(p, c))
        }
      }
      pool.invokeAll(chunks.asJava).asScala.map(_.get).foldLeft(Digest.empty)(_ + _)
    } finally pool.shutdownNow()
  }

  /** Turns per second of `ConvParser.parse` on the calling thread over
    * conversations [0, convs): the median of repeated passes over input
    * generated before the clock starts, for at least one second. */
  def singleThreadRate(p: FixtureGen.Profile, convs: Int): Double = {
    val input = (0L until convs.toLong).map(turns(p, _))
    val n = input.map(_.size.toLong).sum
    val rates = scala.collection.mutable.ArrayBuffer[Double]()
    val end = System.nanoTime() + 1000000000L
    while (rates.size < 3 || System.nanoTime() < end) {
      val t0 = System.nanoTime()
      var sink = 0L
      input.foreach(ts => sink += ConvParser.parse(ts.head.conv_id, ts).size)
      require(sink == n, s"oracle emitted $sink results for $n turns")
      rates += n / ((System.nanoTime() - t0) / 1e9)
    }
    rates.sorted.apply(rates.size / 2)
  }
}
