package graft.operators

/** Causal self-attention AUTOREGRESSIVE density model — a transformer
  * backbone for the same AR factorization the MLP heads learn
  * ([[NarModel]]). This deliberately re-expresses the reference's
  * transformer variant (scardina/models.py:435 `NARTransformer`) into
  * the repo's AR family rather than copying it: the reference model is
  * NON-autoregressive — models.py:211 applies no attention mask and
  * trains by random masked-column denoising (LayerNorm, multi-head,
  * multi-block) — while this repo's whole estimator stack (nar_est /
  * nar_progressive and their oracles) is built on the chain-rule
  * factorization, so the transformer leg keeps that factorization and
  * swaps only the per-conditional MLPs for one shared-parameter
  * attention network with a causal mask. Same backbone family,
  * different (AR) training objective — documented as a re-expression,
  * not a faithful copy.
  *
  * Architecture: the shared [[AttentionNet]] block with the CAUSAL
  * mask (position i attends to j ≤ i) over the token sequence
  * `[BOS, c, o, l]` (BOS carries no token embedding); its
  * per-position softmax heads read position 0 as `c` (unconditioned —
  * the first autoregressive slot), 1 as `o | c`, 2 as `l | c, o`, 3 as
  * the fanout code `f | c, o, l` (the reference's fanout columns).
  *
  * Training is full-batch Adam over the WEIGHTED distinct-combo table
  * of the encoded training batch — grouping the sample's rows by
  * (c, o, l, f) with counts is gradient-identical to iterating the raw
  * rows, collapses the input to a catalog-sized array, and makes every
  * step deterministic (fixed combo order, fixed seed, one thread).
  * Scale posture is [[NarModel]]'s: the 100 TB work is producing the
  * join sample; the model fits on its bounded encoding (a documented
  * literal checkpoint), and the enumerated joint persists to the
  * warehouse model store like every trained artifact.
  */
final class NarTransformer(
    val cMax: Int, val oMax: Int, val lMax: Int, val fMax: Int,
    val d: Int, val h: Int, seed: Long) {

  // BOS has no token table: a zero-size emb_0
  private val net = new AttentionNet(Array(0, cMax, oMax, lMax),
    Array(cMax, oMax, lMax, fMax), d, h, causal = true, seed)
  val nParams: Int = net.nParams
  val params: Array[Double] = net.params

  /** Weighted cross-entropy loss over `data` rows (c, o, l, f, weight),
    * every head scored; gradients accumulate into `grad` when non-null. */
  def lossAndGrad(data: Array[(Int, Int, Int, Int, Double)],
      grad: Array[Double]): Double = {
    var loss = 0.0
    val wTot = data.map(_._5).sum
    val in = Array(-1, 0, 0, 0)
    val tgt = new Array[Int](4)
    val hw = new Array[Double](4)
    data.foreach { case (c0, o0, l0, f0, w) =>
      in(1) = c0; in(2) = o0; in(3) = l0
      tgt(0) = c0; tgt(1) = o0; tgt(2) = l0; tgt(3) = f0
      java.util.Arrays.fill(hw, w / wTot)
      loss = net.example(loss, in, tgt, hw, grad)
    }
    loss
  }

  /** Deterministic full-batch Adam. */
  def fit(data: Array[(Int, Int, Int, Int, Double)], steps: Int,
      lr: Double = 0.01): NarTransformer = {
    fitSnapshots(data, Seq(steps), lr)
    this
  }

  /** One continuous Adam run that captures the enumerated joint at each
    * rung (ascending step counts) — the reference's
    * "eval all intermediate models" surface (run.py:156
    * `--eval-all-intermediate-models` walks the saved per-step
    * checkpoints and re-runs eval_batch on each): the snapshot at the
    * final rung is bit-identical to `fit(data, rungs.max)` because the
    * optimizer state is never reset between rungs. Returns
    * (step, enumerated joint) per rung.
    */
  def fitSnapshots(data: Array[(Int, Int, Int, Int, Double)], rungs: Seq[Int],
      lr: Double = 0.01): Seq[(Int, Seq[(Int, Int, Int, Double, Double)])] = {
    require(rungs.nonEmpty && rungs == rungs.sorted && rungs.head > 0,
      s"rungs must be ascending positive step counts: $rungs")
    val out = Seq.newBuilder[(Int, Seq[(Int, Int, Int, Double, Double)])]
    net.adam(rungs.last, lr)(lossAndGrad(data, _)) { s =>
      if (rungs.contains(s)) out += ((s, enumerateJoint()))
    }
    out.result()
  }

  /** Weighted NLL of `data` under the CURRENT parameters (forward
    * passes only) — the objective the hyperparameter search ranks
    * trials by (the reference search's per-trial validation loss,
    * run.py's tune report). */
  def loss(data: Array[(Int, Int, Int, Int, Double)]): Double =
    lossAndGrad(data, null)

  /** The four conditional distributions for one (c, o, l) prefix:
    * (P̂(c=·), P̂(o=· | c), P̂(l=· | c, o), P̂(f=· | c, o, l)) — one causal
    * forward pass serves all four heads. Returned arrays are copies. */
  def conditionals(c0: Int, o0: Int, l0: Int): Array[Array[Double]] =
    net.forward(Array(-1, c0, o0, l0)).map(_.clone())
  /** Enumerated model joint over the full code cross-product — the same
    * construction as [[NarModel.jointOf]] (structural zero re-imposed,
    * renormalized, einv = E[1/fanout | combo]) with every factor,
    * including P(c), taken from the trained network. Rows are
    * (c_code, o_code, l_code (1-based), p, einv) — catalog-sized. */
  def enumerateJoint(): Seq[(Int, Int, Int, Double, Double)] = {
    val raw = for { c <- 0 until cMax; o <- 0 until oMax; l <- 0 until lMax }
      yield {
        val pr = conditionals(c, o, l)
        // structural zero: a padded order (NULL token 1 → 0-based 0)
        // cannot carry a real lineitem
        val praw =
          if (o == 0 && l != 0) 0.0
          else pr(0)(c) * pr(1)(o) * pr(2)(l)
        var einv = 0.0
        var f = 0
        while (f < fMax) { einv += pr(3)(f) / (f + 1.0); f += 1 }
        (c + 1, o + 1, l + 1, praw, einv)
      }
    val z = raw.map(_._4).sum
    raw.map { case (c, o, l, praw, einv) => (c, o, l, praw / z, einv) }
  }
}

object NarTransformer {
  /** Train on the weighted combo table with the production
    * hyperparameters (d=16, h=32 — ample capacity for catalog-sized
    * domains; 800 full-batch Adam steps converge the weighted CE to the
    * empirical conditionals' noise floor). */
  def train(data: Array[(Int, Int, Int, Int, Double)],
      cMax: Int, oMax: Int, lMax: Int, fMax: Int, seed: Long,
      steps: Int = 800): NarTransformer =
    new NarTransformer(cMax, oMax, lMax, fMax, 16, 32, seed).fit(data, steps)
}
