package graft.infer

/** Test client that logs every prompt, then answers as [[MockInference]].
  * The log is JVM-static: task closures deserialize into the same local
  * JVM, so a static sees every task's calls where an instance field's
  * appends would land on per-task copies. Clear it before each run. */
class RecordingClient extends InferenceClient {
  private val mock = new MockInference

  override def complete(p: String): String = {
    RecordingClient.prompts.add(p)
    reply(p, mock.complete(p))
  }

  /** Lets a spec alter the mock's reply to `prompt`. */
  protected def reply(prompt: String, mocked: String): String = mocked
}

object RecordingClient {
  val prompts = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  def logged: Seq[String] = prompts.toArray.toSeq.map(_.toString)

  /** Client calls per prompt prefix (MAP, DIGEST, WRITE, ...). */
  def callsPerPrefix(): Map[String, Int] =
    logged.groupBy(_.takeWhile(_ != '|')).map { case (k, v) => k -> v.size }
}
