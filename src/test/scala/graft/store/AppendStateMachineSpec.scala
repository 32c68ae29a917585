package graft.store

import graft.SparkTestSession
import graft.core._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable

/** Property-based check of the expected-version/idempotency state machine
  * (SURVEY §5): random append sequences run against both the Spark store
  * and a tiny in-memory model implementing the reference contract
  * (`InMemoryStream.cs:38-163`, `EnforceIdempotentAppend.sql:12-39`,
  * empty-batch fast path `StreamStoreBase.cs:59-66`); success/conflict
  * must agree op-for-op and the final log must equal the model's.
  */
trait AppendStateMachineBehaviors extends AnyFunSuite {
  protected def makeStore(name: String, trackDeletes: Boolean = true,
      clock: Clock = Clock.System): StreamStore

  /** The executable contract: a minimal single-stream model. */
  private final class ModelStream {
    var exists = false
    val ids = mutable.ArrayBuffer.empty[String] // message id at each version

    private def head = ids.size - 1

    /** Right(currentVersion) or Left(conflict). */
    def append(expectedVersion: Int, batch: Seq[String]): Either[Unit, Int] = {
      // empty batch with a concrete expected version: no-op, even on a
      // missing stream (StreamStoreBase.cs:59-66)
      if (batch.isEmpty && expectedVersion >= 0) return Right(expectedVersion)
      expectedVersion match {
        case ExpectedVersion.NoStream =>
          if (ids.isEmpty) { exists = true; ids ++= batch; Right(head) }
          else if (batch.length <= ids.length && batch.indices.forall(i => ids(i) == batch(i)))
            Right(head) // full-prefix replay
          else Left(())
        case ExpectedVersion.Any =>
          if (batch.isEmpty || ids.isEmpty) { exists = true; ids ++= batch; Right(head) }
          else {
            val idx = ids.indexOf(batch.head)
            if (idx >= 0) {
              if (idx + batch.length <= ids.length && batch.indices.forall(i => ids(idx + i) == batch(i)))
                Right(head) // exact-suffix replay
              else Left(())
            } else if (batch.exists(ids.contains)) Left(()) // partial overlap
            else { ids ++= batch; Right(head) }
          }
        case ev => // EmptyStream (-1) or exact version >= 0
          if (!exists) Left(())
          else if (ev > head) Left(())
          else if (ids.nonEmpty && ev < head) {
            // batch must replay at exactly versions ev+1 .. ev+len
            if (batch.indices.forall(i => ids(ev + i + 1) == batch(i))) Right(head)
            else Left(())
          } else { // ev == head
            if (batch.exists(ids.contains)) Left(())
            else { ids ++= batch; Right(head) }
          }
      }
    }
  }

  private def mid(n: Int): String = f"00000000-0000-0000-0000-$n%012d"

  private sealed trait EvSel
  private case object SelNoStream extends EvSel
  private case object SelAny extends EvSel
  private final case class SelExact(v: Int) extends EvSel // -1 = EmptyStream

  private val genOp: Gen[(EvSel, List[Int])] = for {
    sel <- Gen.frequency(
      3 -> Gen.const(SelNoStream),
      4 -> Gen.const(SelAny),
      5 -> Gen.choose(-1, 8).map(SelExact.apply))
    n <- Gen.choose(0, 4)
    // small id space so replays/overlaps/reorders actually happen
    nums <- Gen.listOfN(n, Gen.choose(1, 10))
  } yield (sel, nums.distinct)

  private val genOps: Gen[List[(EvSel, List[Int])]] = Gen.listOfN(12, genOp)

  // fixed seeds: fully deterministic, still 10 random-shaped sequences
  test("random append sequences agree with the reference model, op for op") {
    (0 until 10).foreach { seed =>
      val ops = genOps.pureApply(Gen.Parameters.default, Seed(seed.toLong))
      val store = makeStore("graft-prop")
      try {
        val model = new ModelStream
        ops.foreach { case (sel, nums) =>
          val expected = sel match {
            case SelNoStream => ExpectedVersion.NoStream
            case SelAny => ExpectedVersion.Any
            case SelExact(v) => v
          }
          val batch = nums.map(n => NewStreamMessage(mid(n), "t", s"""{"n":$n}"""))
          val modelResult = model.append(expected, nums.map(mid))
          val storeResult =
            try Right(store.appendToStream("s", expected, batch).currentVersion)
            catch { case _: WrongExpectedVersionException => Left(()) }
          (modelResult, storeResult) match {
            case (Left(_), Left(_)) => ()
            case (Right(mv), Right(sv)) =>
              assert(sv === mv, s"version mismatch after ($sel, $nums) [seed $seed]")
            case _ =>
              fail(s"divergence on ($sel, $nums) [seed $seed]: " +
                s"model=${if (modelResult.isRight) "ok" else "conflict"} " +
                s"store=${if (storeResult.isRight) "ok" else "conflict"}")
          }
        }
        // final log must equal the model's id sequence, in version order
        val page = store.readStreamForwards("s", 0, 1000)
        val storeIds =
          if (page.status == PageReadStatus.StreamNotFound) Nil
          else page.messages.map(_.messageId)
        assert(storeIds === model.ids.toSeq, s"[seed $seed]")
      } finally store.close()
    }
  }
}

class AppendStateMachineSpec extends AppendStateMachineBehaviors with ParquetBackend
class JdbcAppendStateMachineSpec extends AppendStateMachineBehaviors with DerbyBackend
class HttpAppendStateMachineSpec extends AppendStateMachineBehaviors with HttpBackend
