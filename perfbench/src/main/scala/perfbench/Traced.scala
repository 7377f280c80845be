package perfbench

import scala.collection.mutable
import org.apache.spark.TaskContext
import org.apache.spark.sql.Dataset
import graft.classify.DocTypeClassifier
import graft.html.BoilerplateStrip
import graft.kernel.Backends
import graft.model.{Doc, DocResult, JObj}
import graft.pipe.ExtractionPipeline
import graft.text.PyText
import graft.validate.Validator

/** The fused kernel re-composed from its public per-doc calls, with each
  * layer call timed by `nanoTime`. The output of every doc is the result
  * of `ExtractionPipeline.ocrDoc` then `extractDoc`, the calls the fused
  * stage makes, so the traced digest must equal the untraced one.
  *
  * A parent's self time is its duration minus its children's. The children
  * are timed by calling them a second time on the same input, so the traced
  * run does that work twice; the overhead it reports includes this.
  *
  * Counters accumulate per task and are added to `acc` once, when the task
  * completes. */
object Traced {
  def run(docs: Dataset[Doc], useDonut: Boolean, acc: CounterAcc): Dataset[DocResult] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.mapPartitions { it =>
      val c = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
      TaskContext.get().addTaskCompletionListener[Unit](_ => acc.add(c.toMap))
      val ocr = Backends.ocr("deterministic")
      val donut = Backends.donut("deterministic")
      it.map(d => one(d, useDonut, ocr, donut, c))
    }
  }

  private def one(d: Doc, useDonut: Boolean, ocr: graft.kernel.OcrBackend,
                  donut: graft.kernel.DonutBackend,
                  c: mutable.Map[String, Long]): DocResult = {
    def timed[A](key: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      c(key) += System.nanoTime() - t0
      r
    }
    c("docs") += 1
    if (ExtractionPipeline.docBytes(d) > ExtractionPipeline.MaxInputBytes) {
      // the fused stage's rejection row is private; synthesized inputs
      // never reach the cap, so a doc here is counted and fails the run
      c("oversize") += 1
      throw new IllegalStateException(s"${d.doc_id}: oversize doc in traced input")
    }

    val o = timed("ocr_ns")(ExtractionPipeline.ocrDoc(d, ocr))
    c("ocr_retries") += o.failures
    d.spans.foreach { s =>
      s.kind match {
        case "text" =>
          c("text_spans") += 1
          timed("strip_ns")(BoilerplateStrip.lines(s.text))
        case "media" =>
          c("media_spans") += 1
          val (ls, cs, _) = timed("decode_ns") {
            try ocr.decode(s.media_ref)
            catch { case _: Exception => (Vector.empty[String], Vector.empty[Double], None) }
          }
          c("ocr_lines") += ls.length
          c("ocr_kept") += ls.indices.count(i => i >= cs.length || cs(i) >= 0.8)
        case _ =>
      }
    }

    val r = timed("extract_ns")(ExtractionPipeline.extractDoc(o, useDonut, () => donut))
    val ex = timed("route_ns")(DocTypeClassifier.extractWithRouting(o.raw_text, o.lines))
    if (useDonut && ex.get("document_type").contains("Unknown") && o.media_refs.nonEmpty) {
      c("donut_calls") += 1
      val before = ex.keys.size
      timed("donut_ns") {
        val dd = donut.process(o.media_refs.head)
        DocTypeClassifier.mergeDonut(ex, if (dd.fields.nonEmpty) Some(dd) else None)
      }
      if (ex.keys.size > before) c("donut_filled") += 1
      if (r.document_type != "Unknown") c("donut_rescued") += 1
    }
    if (ex.get("document_type").contains("Unknown") && o.raw_text.nonEmpty)
      ex("raw_text") = o.raw_text
    ex("face_image") = o.face_b64
    ex("ocr_accuracy_score") = PyText.round2(o.avg_conf * 100)
    val j: JObj = ex.toJ
    timed("validate_ns")(Validator.validateDocument(j))

    if (!r.is_valid) c("invalid") += 1
    c("type." + r.doc_type_dir) += 1
    r
  }
}
