package graft
import graft.core.Engine
import graft.io.Transcripts
import java.nio.file.{Files, Paths}

/** One-shot generator for the committed golden file (run manually; output
  * reviewed then committed as the per-turn byte-equality reference), and
  * the one rendering of a turn that GoldenSpec compares against it. */
object GoldenGen {
  /** Turn `id` of the seed-42 transcripts, extracted and rendered. */
  def render(id: Long): String = {
    val t = Transcripts.turnFor(42L, id, 1000L, 0.05, 8)
    val r = Engine.parseTurn(t.conv_id, t.turn_idx, t.text)
    val sb = new StringBuilder
    sb.append(s"=== turn $id conv=${r.conv_id} idx=${r.turn_idx} ===\n")
    sb.append(s"meta|chars=${r.n_chars}|lines=${r.n_lines}|tables=${r.n_tables}|doc=${r.doc_type}|best=${r.best_parser}|count=${r.best_count}|cost=${r.best_total_cost}\n")
    r.best_items.foreach { it =>
      sb.append(s"item|${it.name}|${it.article}|${it.qty.getOrElse("")}|${it.unit}|${it.price.getOrElse("")}|${it.currency}|${it.total.getOrElse("")}|${it.supplier}|${it.source}|${it.confidence}\n")
    }
    sb.append("--- extracted_text ---\n").append(r.extracted_text).append("\n=== end ===\n")
    sb.toString
  }

  /** Turns 0..39 rendered: the content of the golden file. */
  def renderAll: String = (0L until 40L).map(render).mkString

  def main(args: Array[String]): Unit = {
    Files.writeString(Paths.get(args(0)), renderAll)
    println("written " + args(0))
  }
}
