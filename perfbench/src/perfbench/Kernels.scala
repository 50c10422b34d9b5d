package perfbench

import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{BandHashes, L2DistSq, MinHashSig, ShingleHashes, SigMatchFrac}

/** Per-row cost of the Catalyst kernels behind text_vector's hot loops,
  * timed by calling each expression's `kernel` on fixed generated inputs
  * (the same inputs in every run, whatever the seed).
  */
object Kernels {
  private val Rows = 2000
  private val Reps = 5

  private val vocab = ("a the data table row column key value join merge sort hash " +
    "scan filter group agg order line part customer query spark stream batch " +
    "window vector small big fast slow").split(" ")

  private lazy val texts: Array[UTF8String] = {
    val rnd = new java.util.Random(7)
    Array.fill(Rows) {
      UTF8String.fromString(Seq.fill(10 + rnd.nextInt(91))(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
  }

  private lazy val vectors: Array[ArrayData] = {
    val rnd = new java.util.Random(11)
    Array.fill(Rows)(new GenericArrayData(Array.fill(16)(rnd.nextGaussian()).map(Double.box)))
  }

  /** Median over [[Reps]] passes of ns per row; `sink` defeats dead-code elimination. */
  private def perRow(f: Int => Any): Double = {
    var sink = 0
    def pass(): Double = {
      val t0 = System.nanoTime()
      var i = 0
      while (i < Rows) { sink += f(i).hashCode; i += 1 }
      (System.nanoTime() - t0).toDouble / Rows
    }
    pass() // warm the JIT
    val xs = Seq.fill(Reps)(pass()).sorted
    if (sink == 42) print("")
    xs(Reps / 2)
  }

  def measure(out: ObjectNode): Unit = {
    val dummy = Literal(null)
    val shingle = ShingleHashes(dummy, 3)
    val minhash = MinHashSig(dummy, 64)
    val bands = BandHashes(dummy, 16, 4)
    val matchFrac = SigMatchFrac(dummy, dummy)
    val l2 = L2DistSq(dummy, dummy)
    val hashes = texts.map(shingle.kernel)
    val sigs = hashes.map(minhash.kernel)
    out.put("shingle_hashes", perRow(i => shingle.kernel(texts(i))))
    out.put("minhash_sig", perRow(i => minhash.kernel(hashes(i))))
    out.put("band_hashes", perRow(i => bands.kernel(sigs(i))))
    out.put("sig_match_frac", perRow(i => matchFrac.kernel(sigs(i), sigs((i + 1) % Rows))))
    out.put("l2_dist_sq", perRow(i => l2.kernel(vectors(i), vectors((i + 1) % Rows))))
  }
}
