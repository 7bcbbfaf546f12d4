package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable.ArrayBuffer

/** One benchmark workload: seeded inputs, then passes of steps. */
trait Workload {
  /** Write this workload's inputs under `dir`; keep their ground truth. */
  def generate(spark: SparkSession, dir: String, seed: Long): Unit
  /** Untimed check preparation on the generated inputs (reference answers). */
  def prepare(ctx: Ctx): Unit = ()
  /** One complete pass; every step goes through `ctx.op`. */
  def pass(ctx: Ctx): Unit

}

object Workload {
  val names: Seq[String] = Seq("quant_universe", "llm_pipeline")

  def apply(name: String): Workload = name match {
    case "quant_universe" => new QuantUniverse
    case "llm_pipeline" => new LlmPipeline
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${names.mkString(", ")})")
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def dirBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(c => dirBytes(c.getPath)).sum).getOrElse(0L)
  }

  def dataFiles(path: String): Int = {
    val f = new java.io.File(path)
    if (f.isFile) { if (f.getName.endsWith(".parquet")) 1 else 0 }
    else Option(f.listFiles).map(_.map(c => dataFiles(c.getPath)).sum).getOrElse(0)
  }
}

/** One operation's record. `kind` is `step`, `read` or `mutate`. */
final case class Op(pass: Int, name: String, kind: String, detail: String, wallS: Double,
                    checkS: Double, ok: Boolean, err: String, attrs: Map[String, Double])

/** Per-run state the workloads drive: the session, the current input
  * dir, the pass being run and the tracer (present only when tracing). */
final class Ctx(val spark: SparkSession, tracer: Option[Tracer], val work: String) {
  var dir: String = _
  var pass: Int = 0
  private var passSpan: Option[Span] = None
  val ops = ArrayBuffer.empty[Op]
  val facts = ArrayBuffer.empty[(Int, String, Double)]

  private val notes = scala.collection.mutable.Map.empty[String, Double]

  /** Record a measured property of this pass's output (recall, counts). */
  def fact(name: String, v: Double): Unit = facts += ((pass, name, v))

  /** Attach a value to the operation being run. */
  def note(name: String, v: Double): Unit = notes(name) = v

  def beginPass(traced: Boolean): Unit =
    passSpan = if (traced) tracer.map(_.beginPass(s"pass $pass")) else None

  def endPass(): Map[String, Double] = passSpan match {
    case Some(p) =>
      val t = tracer.get; t.endPass(p, System.nanoTime()); passSpan = None; p.attrs
    case None => Map.empty
  }

  /** Run one operation. `body` materializes the step's result and returns
    * its output check, which runs after the clock stops; a throw or a
    * false check marks the operation failed. */
  def op(name: String, kind: String = "step", detail: String = "")(body: => () => Boolean): Unit = {
    val span = passSpan.map(p => tracer.get.beginStep(p, if (detail.isEmpty) name else s"$name:$detail"))
    notes.clear()
    val t0 = System.nanoTime()
    val res = try Right(body) catch { case e: Throwable => Left(e) }
    val t1 = System.nanoTime()
    span.foreach(tracer.get.endStep(_, t1))
    val c0 = System.nanoTime()
    val checked = res.flatMap(chk => try Right(chk()) catch { case e: Throwable => Left(e) })
    val checkS = (System.nanoTime() - c0) / 1e9
    val err = checked match {
      case Left(e) => e.toString.linesIterator.nextOption().getOrElse(e.getClass.getName)
      case Right(false) => "output check failed"
      case Right(true) => ""
    }
    if (err.nonEmpty) System.err.println(s"[perfbench] pass $pass $name $detail FAILED: $err")
    ops += Op(pass, name, kind, detail, (t1 - t0) / 1e9, checkS, err.isEmpty, err,
      span.map(_.attrs).getOrElse(Map.empty) ++ notes)
  }
}
