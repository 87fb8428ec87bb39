package graft

import graft.nlp.ModelRunner
import org.apache.spark.util.LongAccumulator

/** Deterministic fake provider counting invocations via accumulators
  * (top-level so the closure stays serializable). `answer` maps one
  * prompt to its answer; a null answer is a failed call.
  */
class FakeModelClient(
    callCounter: LongAccumulator,
    promptCounter: LongAccumulator,
    answer: String => String = p => s"ANN:${p.toUpperCase}"
) extends ModelRunner.ModelClient {
  override def complete(prompts: Seq[String]): Seq[String] = {
    callCounter.add(1)
    promptCounter.add(prompts.length)
    prompts.map(answer)
  }
}
