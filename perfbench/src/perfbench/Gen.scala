package perfbench

import java.security.MessageDigest
import java.sql.Timestamp

import scala.collection.mutable

import org.apache.parquet.example.data.Group
import org.apache.spark.sql.Row

/** Seeded input generators, in plain Scala on the driver. Every value is a
  * function of (seed, row id, field) through a SplitMix64 hash, so the same
  * seed gives the same rows. While generating, the generator also derives
  * what a correct pipeline must produce — per-sink message counts and the
  * conservation ledger — from its own choices, with no call into graft.
  */
object Gen {

  /** SplitMix64 finalizer. */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  final class Rng(seed: Long) {
    private val s = mix(seed)
    def hash(id: Long, k: Int): Long = mix(mix(s ^ id) + k)
    /** Uniform in [0, 1). */
    def u(id: Long, k: Int): Double = (hash(id, k) >>> 11) * (1.0 / (1L << 53))
    def pick(id: Long, k: Int, n: Int): Int = java.lang.Long.remainderUnsigned(hash(id, k), n).toInt
  }

  /** The (role, tool) pairs graft's table map resolves, with their field
    * counts. A copy kept here on purpose: expected counts must not come
    * from program code, so a change to the program's table map shows up as
    * a failed output check.
    */
  val Mapped: IndexedSeq[(String, String, Int)] = IndexedSeq(
    ("user", "search", 3), ("user", "db", 2), ("assistant", "calc", 3),
    ("assistant", "search", 3), ("assistant", "web", 4), ("system", "db", 2),
    ("tool", "web", 4), ("tool", "calc", 3))
  val Roles: Seq[String] = Seq("user", "assistant", "system", "tool")
  val Tools: Seq[String] = Seq("search", "calc", "db", "web", "")
  val Unmapped: IndexedSeq[(String, String, Int)] =
    (for (r <- Roles; t <- Tools if !Mapped.exists(m => m._1 == r && m._2 == t))
      yield (r, t, 3)).toIndexedSeq
  val AllPairs: IndexedSeq[(String, String, Int)] =
    (for (r <- Roles; t <- Tools) yield (r, t, 3)).toIndexedSeq

  /** Weights of the non-commit turn kinds; commits are placed structurally
    * (every `txnLen`-th turn of a conversation).
    */
  case class KindMix(insert: Double, update: Double, delete: Double,
      query: Double, suppressed: Double, noise: Double, oddUpdate: Double) {
    val cumulative: IndexedSeq[Double] = {
      val w = IndexedSeq(insert, update, delete, query, suppressed, noise, oddUpdate)
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
    }
  }

  /** A transcript corpus: `convs` ordinary conversations plus `hotConvs`
    * hot ones holding `hotShare` of the turns. Commits close a transaction
    * every `txnLen` turns; the trailing partial transaction of each
    * conversation stays uncommitted. Row events pick a mapped (role, tool)
    * pair with probability `matchRate` and carry 1..`maxRows` rows (update:
    * row pairs). `files` > 1 splits the corpus by turn position, so every
    * file holds the next slice of every conversation (a replay stream).
    */
  case class TranscriptSpec(turns: Long, convs: Int, hotConvs: Int,
      hotShare: Double, txnLen: Int, mix: KindMix, matchRate: Double,
      maxRows: Int, files: Int) {
    val hotTurns: Long =
      if (hotConvs == 0) 0L else (turns * hotShare / hotConvs).toLong * hotConvs
    val hotLen: Long = if (hotConvs == 0) 0L else hotTurns / hotConvs
    val convLen: Long = (turns - hotTurns) / convs
    val total: Long = hotTurns + convs * convLen
    require(convLen >= txnLen && txnLen >= 1, s"conversations shorter than a txn: $this")
    require(files == 1 || (hotConvs == 0 && convLen % files == 0),
      s"replay slices need equal conversations: $this")
  }

  /** Generated turns, the file each belongs to, and the expectations. */
  final case class Transcripts(rows: IndexedSeq[Row], file: Array[Int],
      sinks: Map[String, Long], ledger: Map[String, Long], digest: String)

  /** Parquet schema of the turns, the types of graft's `Model.turnsSchema`. */
  val TurnSchema: String =
    """message turns {
      |  required binary conv_id (STRING);
      |  required int32 turn_idx;
      |  required binary role (STRING);
      |  required binary text (STRING);
      |  required binary tool (STRING);
      |  required int64 ts (TIMESTAMP(MICROS, true));
      |}""".stripMargin

  /** Fills a parquet record of [[TurnSchema]] from a generated turn. */
  def turnRecord(r: Row, g: Group): Unit = {
    g.add("conv_id", r.getString(0)); g.add("turn_idx", r.getInt(1))
    g.add("role", r.getString(2)); g.add("text", r.getString(3)); g.add("tool", r.getString(4))
    g.add("ts", r.getTimestamp(5).getTime * 1000L)
  }

  def sinkKey(role: String, tool: String, eventType: String): String =
    s"$role|$tool|$eventType"

  // kind codes, in KindMix order, then the structural commit
  private val Insert = 0; private val Update = 1; private val Delete = 2
  private val Query = 3; private val Suppressed = 4; private val Noise = 5
  private val OddUpdate = 6; private val Commit = 7

  def transcripts(s: TranscriptSpec, seed: Long): Transcripts = {
    val rng = new Rng(seed)
    val rows = new Array[Row](s.total.toInt)
    val file = new Array[Int](s.total.toInt)
    val sinks = mutable.Map[String, Long]().withDefaultValue(0L)
    val ledger = mutable.Map[String, Long]().withDefaultValue(0L)
    def count(k: String, n: Long = 1L): Unit = ledger(k) += n
    val sliceLen = (s.convLen / s.files).toInt
    val sha = MessageDigest.getInstance("SHA-256")
    var id = 0L
    while (id < s.total) {
      val hot = id < s.hotTurns
      val conv = if (hot) s"h${id % s.hotConvs}" else s"c${(id - s.hotTurns) / s.convLen}"
      val t = (if (hot) id / s.hotConvs else (id - s.hotTurns) % s.convLen).toInt
      val len = if (hot) s.hotLen else s.convLen
      val kind =
        if (t % s.txnLen == s.txnLen - 1) Commit
        else {
          val u = rng.u(id, 1)
          s.mix.cumulative.indexWhere(u < _) match { case -1 => OddUpdate; case k => k }
        }
      val committed = t / s.txnLen < len / s.txnLen
      val isRow = kind == Insert || kind == Update || kind == Delete || kind == OddUpdate
      val mapped = isRow && rng.u(id, 2) < s.matchRate
      val (role, tool, nf) =
        if (mapped) Mapped(rng.pick(id, 4, Mapped.size))
        else if (isRow) Unmapped(rng.pick(id, 4, Unmapped.size))
        else AllPairs(rng.pick(id, 4, AllPairs.size))
      val r = 1 + rng.pick(id, 3, s.maxRows)
      val phys = kind match { case Update => 2 * r; case OddUpdate => 2 * r + 1; case _ => r }
      // one value list per physical row: an integer, then nf - 1 short words
      def vals: String = (0 until phys).map { i =>
        val row = id * 16 + i
        (row.toString +: (1 until nf).map(j => s"v${rng.pick(row, 10 + j, 1000)}"))
          .mkString("[", "|", "]")
      }.mkString(";")
      val text = kind match {
        case Insert => s"EVENT insert rows=$phys vals=$vals"
        case Update | OddUpdate => s"EVENT update rows=$phys vals=$vals"
        case Delete => s"EVENT delete rows=$phys vals=$vals"
        case Query =>
          if (rng.pick(id, 5, 2) == 0) s"EVENT query stmt=CREATE TABLE t${rng.pick(id, 6, 50)} (id INT, name TEXT)"
          else s"EVENT query stmt=INSERT INTO t${rng.pick(id, 6, 50)} VALUES ($id)"
        case Suppressed =>
          if (rng.pick(id, 5, 2) == 0) "EVENT query stmt=BEGIN"
          else s"EVENT query stmt= SAVEPOINT sp${rng.pick(id, 6, 9)}"
        case Noise => s"""note {"k": ${rng.pick(id, 6, 100)}, "msg": "turn $t"}"""
        case _ => s"EVENT commit xid=${id + 1}"
      }
      val ts = new Timestamp((1700000000L + id) * 1000L)
      rows(id.toInt) = Row(conv, t, role, text, tool, ts)
      file(id.toInt) = t / sliceLen
      sha.update(s"$conv\u0000$t\u0000$role\u0000$text\u0000$tool\u0000${ts.getTime}\n".getBytes("UTF-8"))

      count("turns")
      kind match {
        case Query => count("query_kept"); sinks(sinkKey(role, "(unknown)", "Query")) += 1
        case Suppressed => count("query_suppressed")
        case Noise => count("noise")
        case Commit => count("commits")
        case _ =>
          count("row_events")
          if (!mapped) count("dropped_unmapped")
          else if (!committed) count("dropped_uncommitted")
          else {
            count("routable_physical_rows", phys)
            kind match {
              case Insert => sinks(sinkKey(role, tool, "Insert")) += phys
              case Delete => sinks(sinkKey(role, tool, "Delete")) += phys
              case Update => sinks(sinkKey(role, tool, "Update")) += r
              case _ => // odd row count: quarantined, no message
            }
          }
      }
      id += 1
    }
    val ledgerKeys = Seq("turns", "row_events", "query_kept", "query_suppressed", "commits",
      "noise", "dropped_unmapped", "dropped_uncommitted", "routable_physical_rows")
    Transcripts(rows.toIndexedSeq, file, sinks.toMap,
      ledgerKeys.map(k => k -> ledger(k)).toMap, hex(sha))
  }

  /** Documents (doc_id, text) and embeddings (vec_id, embedding): the last
    * `dupShare` of each table are copies of an earlier original, with 1 or 2
    * token edits (docs) or small noise (vectors); every third copy is exact.
    */
  case class DocSpec(docs: Int, words: Int, vocab: Int, vecs: Int, dim: Int,
      dupShare: Double) {
    val origDocs: Int = (docs * (1 - dupShare)).toInt
    val origVecs: Int = (vecs * (1 - dupShare)).toInt
  }

  /** Generated documents and embeddings, and the exact copies among them as
    * (copy id, original id).
    */
  final case class Docs(docs: IndexedSeq[Row], vecs: IndexedSeq[Row],
      docCopies: Seq[(Long, Long)], vecCopies: Seq[(Long, Long)], digest: String)

  val DocSchema: String =
    """message documents {
      |  required int64 doc_id;
      |  required binary text (STRING);
      |}""".stripMargin
  val VecSchema: String =
    """message embeddings {
      |  required int64 vec_id;
      |  required group embedding (LIST) {
      |    repeated group list {
      |      required float element;
      |    }
      |  }
      |}""".stripMargin

  def docRecord(r: Row, g: Group): Unit = {
    g.add("doc_id", r.getLong(0)); g.add("text", r.getString(1))
  }

  def vecRecord(r: Row, g: Group): Unit = {
    g.add("vec_id", r.getLong(0))
    val list = g.addGroup("embedding")
    r.getSeq[Float](1).foreach(x => list.addGroup("list").add("element", x))
  }

  def documents(s: DocSpec, seed: Long): Docs = {
    val rng = new Rng(seed)
    val sha = MessageDigest.getInstance("SHA-256")
    def src(id: Int, orig: Int): Int = if (id < orig) id else rng.pick(id, 1, orig)
    def exact(id: Int, orig: Int): Boolean = id >= orig && id % 3 == 0
    val docs = (0 until s.docs).map { id =>
      val base = src(id, s.origDocs)
      val edits =
        if (id < s.origDocs || exact(id, s.origDocs)) Set.empty[Int]
        else Set(rng.pick(id, 2, s.words)) ++ (if (id % 3 == 2) Set(rng.pick(id, 3, s.words)) else Set())
      val text = (0 until s.words).map { p =>
        if (edits(p)) s"x${rng.pick(id.toLong * 1000 + p, 4, s.vocab)}"
        else s"w${rng.pick(base.toLong * 1000 + p, 5, s.vocab)}"
      }.mkString(" ")
      sha.update(s"$id\u0000$text\n".getBytes("UTF-8"))
      Row(id.toLong, text)
    }
    val vecs = (0 until s.vecs).map { id =>
      val base = src(id, s.origVecs)
      val noise = if (id < s.origVecs || exact(id, s.origVecs)) 0.0 else 0.02
      val v = (0 until s.dim).map { j =>
        (rng.u(base.toLong * 1000 + j, 6) * 2 - 1 + noise * (rng.u(id.toLong * 1000 + j, 7) * 2 - 1)).toFloat
      }
      sha.update(s"$id\u0000${v.mkString(",")}\n".getBytes("UTF-8"))
      Row(id.toLong, v)
    }
    def copies(n: Int, orig: Int) =
      (orig until n).filter(exact(_, orig)).map(id => (id.toLong, src(id, orig).toLong))
    Docs(docs, vecs, copies(s.docs, s.origDocs), copies(s.vecs, s.origVecs), hex(sha))
  }

  private def hex(sha: MessageDigest): String = sha.digest().take(8).map(b => f"$b%02x").mkString
}
