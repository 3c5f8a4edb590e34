package graft.operators

/** NON-autoregressive masked-denoising density model — the faithful
  * counterpart of the reference's `NARTransformer`
  * (scardina/models.py:435): full self-attention with NO causal mask
  * (models.py:211 "no mask for non-autoregressive") trained by random
  * masked-column denoising (models.py:340-352: draw a non-trivial mask
  * over the columns, zero the masked inputs, predict the masked values,
  * NLL averaged over the masked columns only). This closes the one
  * deliberate architecture divergence the AR transformer leg
  * ([[NarTransformer]]) documents: that leg keeps the chain-rule
  * factorization; this one trains the reference's actual objective and
  * recovers conditionals by the reference's masking trick at inference
  * (mask the target and the still-unknown columns, read the target
  * head's softmax given the observed ones).
  *
  * Determinism: the reference samples one random mask per step
  * (random.choice + random.sample). Here training is FULL-BATCH over
  * the weighted combo table × the ENUMERATED mask space — all 15
  * non-empty masks over 4 positions, size n uniform on {1..4} then a
  * uniform size-n subset (weight (1/4)/C(4,n)), with the reference's
  * 1/|mask| per-column averaging (models.py:337). This is the exact
  * expectation of the reference's stochastic step EXTENDED by the full
  * mask (the reference stops at n_cols−1 masked; see [[maskPatterns]]
  * for why the all-masked input must be in-distribution here), so the
  * fit is deterministic and the downstream rows hash-gate.
  *
  * Architecture: the shared [[AttentionNet]] block — the one the AR
  * leg trains, here without the causal mask — over the four positions
  * (c, o, l, fanout); a masked position's input carries no token
  * embedding, and each position's softmax head ranges over its
  * column's code domain.
  *
  * Scale posture is the NAR family's: the 100 TB work is producing the
  * weighted join-sample combo table; the fit runs on that bounded
  * catalog-sized input and the enumerated joint persists to the model
  * store.
  */
final class NarMlm(
    val cMax: Int, val oMax: Int, val lMax: Int, val fMax: Int,
    val d: Int, val h: Int, seed: Long) {

  private val nPos = 4
  private val vocab = Array(cMax, oMax, lMax, fMax)
  private val net = new AttentionNet(vocab, vocab, d, h, causal = false, seed)
  val nParams: Int = net.nParams
  val params: Array[Double] = net.params

  /** All non-empty masks (1..nPos positions masked), mask size uniform
    * then a uniform subset: weight (1/nPos)·(1/C(nPos,|m|)). One
    * documented divergence from the reference's draw (models.py:344
    * stops at n_cols−1 masked): inference STARTS from the all-masked
    * input (nothing observed yet), which the reference leaves
    * out-of-distribution and covers by stochastic generalization — a
    * deterministic enumerated fit has no such generalization to lean
    * on, so the full mask joins the training space and the first
    * factor P(col | ∅) is learned, not extrapolated.
    */
  private val maskPatterns: Array[(Int, Double)] = {
    def choose(n: Int, k: Int): Double =
      (1 to k).map(i => (n - i + 1).toDouble / i).product
    (1 until (1 << nPos))
      .map { m =>
        val n = Integer.bitCount(m)
        (m, 1.0 / nPos / choose(nPos, n))
      }
      .toArray
  }

  /** Inputs for tokens `t` under `mask` (bit i set = position i masked:
    * no token, head i read), written into `in`. */
  private def maskInputs(t: Array[Int], mask: Int, in: Array[Int]): Array[Int] = {
    var i = 0
    while (i < nPos) { in(i) = if ((mask & (1 << i)) != 0) -1 else t(i); i += 1 }
    in
  }

  /** Expected masked-denoising loss over `data` rows (c, o, l, f, w) ×
    * the enumerated mask space; gradients accumulate into `grad` when
    * non-null. Loss per (combo, mask) = Σ_{i∈mask} −log P̂_i(t_i) /
    * |mask| (models.py:322 nll_masked), weighted by the combo weight
    * and the mask's draw probability; only MASKED heads carry loss
    * (models.py:327).
    */
  def lossAndGrad(data: Array[(Int, Int, Int, Int, Double)],
      grad: Array[Double]): Double = {
    var loss = 0.0
    val wTot = data.map(_._5).sum
    val t = new Array[Int](nPos)
    val in = new Array[Int](nPos)
    val hw = new Array[Double](nPos)
    data.foreach { case (c0, o0, l0, f0, w) =>
      t(0) = c0; t(1) = o0; t(2) = l0; t(3) = f0
      maskPatterns.foreach { case (mask, pw) =>
        val ws = w / wTot * pw / Integer.bitCount(mask)
        var i = 0
        while (i < nPos) { hw(i) = if ((mask & (1 << i)) != 0) ws else 0.0; i += 1 }
        loss = net.example(loss, maskInputs(t, mask, in), t, hw, grad)
      }
    }
    loss
  }

  /** Deterministic full-batch Adam ([[AttentionNet.adam]], the AR leg's
    * optimizer). */
  def fit(data: Array[(Int, Int, Int, Int, Double)], steps: Int,
      lr: Double = 0.01): NarMlm = {
    net.adam(steps, lr)(lossAndGrad(data, _))(_ => ())
    this
  }

  /** Weighted expected masked NLL under the current parameters. */
  def loss(data: Array[(Int, Int, Int, Int, Double)]): Double =
    lossAndGrad(data, null)

  /** Every head's distribution for tokens `t` under `mask`; the arrays
    * are the network's workspace, overwritten by the next pass. */
  private[graft] def heads(t: Array[Int], mask: Int): Array[Array[Double]] =
    net.forward(maskInputs(t, mask, new Array[Int](nPos)))

  /** One conditional by the reference's masking trick: mask position i
    * AND every still-unknown position (`unknownMask`), feed the
    * observed codes, read head i. */
  def conditional(i: Int, t: Array[Int], unknownMask: Int): Array[Double] = {
    require((unknownMask & (1 << i)) != 0, "target must be masked")
    heads(t, unknownMask)(i).clone()
  }

  /** Enumerated model joint over the full code cross-product via the
    * chain of masked conditionals P(c)·P(o|c)·P(l|c,o) and
    * einv = E[1/fanout | c,o,l] from the fanout head — the same
    * structural-zero + renormalize construction as the AR legs, so the
    * downstream estimate algebra is shared. */
  def enumerateJoint(): Seq[(Int, Int, Int, Double, Double)] = {
    val t = new Array[Int](nPos)
    val pc = conditional(0, t, 15) // nothing observed: mask {c,o,l,f}
    val po = Array.tabulate(cMax) { c =>
      t(0) = c; conditional(1, t, 14) // observed c: mask {o,l,f}
    }
    val raw = for { c <- 0 until cMax; o <- 0 until oMax } yield {
      t(0) = c; t(1) = o
      val pl = conditional(2, t, 12) // observed c,o: mask {l,f} — l-free
      (0 until lMax).map { l =>
        t(2) = l
        val pf = conditional(3, t, 8) // observed c,o,l: mask {f}
        val praw =
          if (o == 0 && l != 0) 0.0
          else pc(c) * po(c)(o) * pl(l)
        var einv = 0.0
        var f = 0
        while (f < fMax) { einv += pf(f) / (f + 1.0); f += 1 }
        (c + 1, o + 1, l + 1, praw, einv)
      }
    }
    val flat = raw.flatten
    val z = flat.map(_._4).sum
    flat.map { case (c, o, l, praw, einv) => (c, o, l, praw / z, einv) }
  }
}

object NarMlm {
  /** Train with the AR transformer leg's hyperparameters (d=16, h=32);
    * 400 full-batch steps over the enumerated mask space converge the
    * expected masked CE at these domain sizes (each step already
    * averages all 15 masks, so it needs fewer steps than the
    * single-objective AR fit). */
  def train(data: Array[(Int, Int, Int, Int, Double)],
      cMax: Int, oMax: Int, lMax: Int, fMax: Int, seed: Long,
      steps: Int = 400): NarMlm =
    new NarMlm(cMax, oMax, lMax, fMax, 16, 32, seed).fit(data, steps)
}
