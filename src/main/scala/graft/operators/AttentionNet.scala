package graft.operators

/** The one transformer block both attention NAR legs train
  * ([[NarTransformer]], causal; [[NarMlm]], full attention) — the
  * reference's `NARTransformer` backbone (scardina/models.py:435) cut
  * to the minimum that serves catalog-sized domains:
  *  - position i's input is a learned positional embedding plus, when
  *    its input token is ≥ 0, the row of that token in position i's
  *    embedding table (a token < 0 — the AR leg's BOS, the MLM leg's
  *    masked column — gets the positional embedding alone, the
  *    reference's `masked_x = x * ~mask`);
  *  - one single-head scaled-dot-product self-attention layer,
  *    residual-connected; with `causal` position i attends to j ≤ i,
  *    without it to every j (models.py:211 "no mask for
  *    non-autoregressive");
  *  - a ReLU feed-forward block, residual-connected (LayerNorm is
  *    omitted: at d=16 over catalog-sized domains Adam converges
  *    without it, and dropping it keeps the hand-rolled backprop —
  *    there is no autograd here — small enough to gradient-check
  *    exhaustively in the spec);
  *  - per-position softmax heads over `outVocab(i)` codes.
  *
  * The legs own only their objective: which tokens go in, which head
  * is scored against which target, and at what weight ([[example]]).
  * Everything is single-threaded and allocation-free per example, so a
  * fixed data order and seed make every fit bit-reproducible.
  */
final class AttentionNet(
    inVocab: Array[Int], outVocab: Array[Int],
    d: Int, h: Int, causal: Boolean, seed: Long) {
  require(inVocab.length == outVocab.length, "one input and one head per position")

  private val nPos = inVocab.length

  // ---- flat parameter layout (one array → trivial Adam + grad-check) ----
  // [posEmb nPos*d | emb_0..emb_{nPos-1} inVocab(i)*d |
  //  Wq d*d | Wk d*d | Wv d*d | Wo d*d | W1 h*d | b1 h | W2 d*h | b2 d |
  //  U_0 outVocab(0)*d | bo_0 outVocab(0) | ... ]
  private val sizes: Array[Int] =
    Array(nPos * d) ++ inVocab.map(_ * d) ++
      Array(d * d, d * d, d * d, d * d, h * d, h, d * h, d) ++
      outVocab.flatMap(v => Array(v * d, v))
  private val offs: Array[Int] = sizes.scanLeft(0)(_ + _)
  val nParams: Int = offs.last

  private val oPos = offs(0)
  private val oWq = offs(nPos + 1)
  private val oWk = offs(nPos + 2)
  private val oWv = offs(nPos + 3)
  private val oWo = offs(nPos + 4)
  private val oW1 = offs(nPos + 5)
  private val oB1 = offs(nPos + 6)
  private val oW2 = offs(nPos + 7)
  private val oB2 = offs(nPos + 8)
  private val firstHead = nPos + 9
  @inline private def embOff(i: Int, t: Int): Int = offs(1 + i) + t * d
  @inline private def headU(i: Int): Int = offs(firstHead + 2 * i)
  @inline private def headB(i: Int): Int = offs(firstHead + 2 * i + 1)

  val params: Array[Double] = {
    val rng = new java.util.Random(seed)
    // small-gaussian init everywhere; biases start at zero so the
    // initial predictive distributions are near-uniform
    val p = Array.fill(nParams)(rng.nextGaussian() * 0.1)
    var s = 0
    while (s < sizes.length) {
      val isBias = s == nPos + 6 || s == nPos + 8 ||
        s > firstHead && (s - firstHead) % 2 == 1
      if (isBias) java.util.Arrays.fill(p, offs(s), offs(s + 1), 0.0)
      s += 1
    }
    p
  }

  // matvec y += M(rows x cols, row-major at mo) * x
  private def mv(p: Array[Double], mo: Int, rows: Int, cols: Int,
      x: Array[Double], xo: Int, y: Array[Double], yo: Int): Unit = {
    var r = 0
    while (r < rows) {
      var acc = 0.0; var c = 0; val base = mo + r * cols
      while (c < cols) { acc += p(base + c) * x(xo + c); c += 1 }
      y(yo + r) += acc; r += 1
    }
  }

  // grad of matvec: dM += dy ⊗ x ; dx += M^T dy
  private def mvGrad(p: Array[Double], g: Array[Double], mo: Int, rows: Int,
      cols: Int, x: Array[Double], xo: Int, dy: Array[Double], dyo: Int,
      dx: Array[Double], dxo: Int): Unit = {
    var r = 0
    while (r < rows) {
      val dyr = dy(dyo + r); val base = mo + r * cols
      var c = 0
      while (c < cols) {
        g(base + c) += dyr * x(xo + c)
        dx(dxo + c) += p(base + c) * dyr
        c += 1
      }
      r += 1
    }
  }

  private def softmaxInPlace(a: Array[Double], o: Int, n: Int): Unit = {
    var m = Double.NegativeInfinity; var i = 0
    while (i < n) { if (a(o + i) > m) m = a(o + i); i += 1 }
    var z = 0.0; i = 0
    while (i < n) { val e = math.exp(a(o + i) - m); a(o + i) = e; z += e; i += 1 }
    i = 0
    while (i < n) { a(o + i) /= z; i += 1 }
  }

  /** Position i attends to positions j < span(i). */
  @inline private def span(i: Int): Int = if (causal) i + 1 else nPos

  // forward workspace
  private val x = new Array[Double](nPos * d)      // embedded inputs
  private val q = new Array[Double](nPos * d)
  private val k = new Array[Double](nPos * d)
  private val v = new Array[Double](nPos * d)
  private val a = new Array[Double](nPos * nPos)   // attention rows
  private val ctx = new Array[Double](nPos * d)    // attention context
  private val y = new Array[Double](nPos * d)      // post-attention residual
  private val u = new Array[Double](nPos * h)      // FFN hidden (post-ReLU)
  private val z = new Array[Double](nPos * d)      // block output
  private val probs = Array.tabulate(nPos)(i => new Array[Double](outVocab(i)))
  // backward workspace
  private val dz = new Array[Double](nPos * d)
  private val dy = new Array[Double](nPos * d)
  private val dctx = new Array[Double](nPos * d)
  private val dq = new Array[Double](nPos * d)
  private val dk = new Array[Double](nPos * d)
  private val dv = new Array[Double](nPos * d)
  private val dx = new Array[Double](nPos * d)
  private val du = new Array[Double](h)
  private val da = new Array[Double](nPos)
  private val scale = 1.0 / math.sqrt(d.toDouble)

  /** Forward pass for input tokens `in` (0-based codes; < 0 = no token
    * embedding); returns each head's softmax distribution. The arrays
    * are this net's workspace: the next pass overwrites them. */
  def forward(in: Array[Int]): Array[Array[Double]] = {
    val p = params
    java.util.Arrays.fill(q, 0.0); java.util.Arrays.fill(k, 0.0)
    java.util.Arrays.fill(v, 0.0); java.util.Arrays.fill(ctx, 0.0)
    var i = 0
    while (i < nPos) {
      val xb = i * d
      var j = 0
      while (j < d) {
        x(xb + j) = p(oPos + i * d + j) +
          (if (in(i) < 0) 0.0 else p(embOff(i, in(i)) + j))
        j += 1
      }
      mv(p, oWq, d, d, x, xb, q, xb)
      mv(p, oWk, d, d, x, xb, k, xb)
      mv(p, oWv, d, d, x, xb, v, xb)
      i += 1
    }
    i = 0
    while (i < nPos) {
      val n = span(i)
      var j = 0
      while (j < n) {
        var s = 0.0; var c = 0
        while (c < d) { s += q(i * d + c) * k(j * d + c); c += 1 }
        a(i * nPos + j) = s * scale
        j += 1
      }
      softmaxInPlace(a, i * nPos, n)
      var c = 0
      while (c < d) {
        var acc = 0.0; j = 0
        while (j < n) { acc += a(i * nPos + j) * v(j * d + c); j += 1 }
        ctx(i * d + c) = acc
        c += 1
      }
      // y = x + Wo ctx ; z = y + W2 relu(W1 y + b1) + b2
      val xb = i * d
      System.arraycopy(x, xb, y, xb, d)
      mv(p, oWo, d, d, ctx, xb, y, xb)
      var r = 0
      while (r < h) {
        var acc = p(oB1 + r); var cc = 0; val base = oW1 + r * d
        while (cc < d) { acc += p(base + cc) * y(xb + cc); cc += 1 }
        u(i * h + r) = if (acc > 0.0) acc else 0.0
        r += 1
      }
      c = 0
      while (c < d) { z(xb + c) = y(xb + c) + p(oB2 + c); c += 1 }
      mv(p, oW2, d, h, u, i * h, z, xb)
      // logits → probs
      val uo = headU(i); val bo = headB(i)
      val pr = probs(i)
      r = 0
      while (r < outVocab(i)) {
        var acc = p(bo + r); var cc = 0; val base = uo + r * d
        while (cc < d) { acc += p(base + cc) * z(xb + cc); cc += 1 }
        pr(r) = acc; r += 1
      }
      softmaxInPlace(pr, 0, outVocab(i))
      i += 1
    }
    probs
  }

  /** One weighted training example: forward `in`, score head i against
    * `tgt(i)` at weight `headWeights(i)` (0 = head not scored), and
    * return `loss0` minus the weighted log-likelihood, heads in order —
    * callers thread the running loss through so its summation order is
    * fixed. Gradients accumulate into `grad` when non-null. */
  def example(loss0: Double, in: Array[Int], tgt: Array[Int],
      headWeights: Array[Double], grad: Array[Double]): Double = {
    val pr = forward(in)
    var loss = loss0
    var i = 0
    while (i < nPos) {
      if (headWeights(i) != 0.0)
        loss -= headWeights(i) * math.log(math.max(pr(i)(tgt(i)), 1e-300))
      i += 1
    }
    if (grad != null) backward(in, tgt, headWeights, grad)
    loss
  }

  /** Backprop of [[example]]'s loss through the workspace the preceding
    * forward pass filled. */
  private def backward(in: Array[Int], tgt: Array[Int],
      headWeights: Array[Double], grad: Array[Double]): Unit = {
    val p = params
    java.util.Arrays.fill(dz, 0.0); java.util.Arrays.fill(dy, 0.0)
    java.util.Arrays.fill(dctx, 0.0); java.util.Arrays.fill(dq, 0.0)
    java.util.Arrays.fill(dk, 0.0); java.util.Arrays.fill(dv, 0.0)
    java.util.Arrays.fill(dx, 0.0)
    // scored heads: dlogits = w * (probs - onehot); dz += U^T dlogits
    var i = 0
    while (i < nPos) {
      val ws = headWeights(i)
      if (ws != 0.0) {
        val xb = i * d
        val uo = headU(i); val bo = headB(i)
        var r = 0
        while (r < outVocab(i)) {
          val dl = ws * (probs(i)(r) - (if (r == tgt(i)) 1.0 else 0.0))
          grad(bo + r) += dl
          var cc = 0; val base = uo + r * d
          while (cc < d) {
            grad(base + cc) += dl * z(xb + cc)
            dz(xb + cc) += p(base + cc) * dl
            cc += 1
          }
          r += 1
        }
      }
      i += 1
    }
    // FFN backward per position: z = y + W2 u + b2, u = relu(W1 y + b1)
    i = 0
    while (i < nPos) {
      val xb = i * d
      var c = 0
      while (c < d) { grad(oB2 + c) += dz(xb + c); dy(xb + c) += dz(xb + c); c += 1 }
      java.util.Arrays.fill(du, 0.0)
      // dW2 += dz ⊗ u ; du += W2^T dz
      var r = 0
      while (r < d) {
        val dzr = dz(xb + r); val base = oW2 + r * h
        var cc = 0
        while (cc < h) {
          grad(base + cc) += dzr * u(i * h + cc)
          du(cc) += p(base + cc) * dzr
          cc += 1
        }
        r += 1
      }
      // relu gate, then dW1 += du ⊗ y ; db1 += du ; dy += W1^T du
      r = 0
      while (r < h) {
        val g = if (u(i * h + r) > 0.0) du(r) else 0.0
        grad(oB1 + r) += g
        val base = oW1 + r * d
        var cc = 0
        while (cc < d) {
          grad(base + cc) += g * y(xb + cc)
          dy(xb + cc) += p(base + cc) * g
          cc += 1
        }
        r += 1
      }
      i += 1
    }
    // attention backward: y = x + Wo ctx
    i = 0
    while (i < nPos) {
      val xb = i * d
      val n = span(i)
      var c = 0
      while (c < d) { dx(xb + c) += dy(xb + c); c += 1 }
      mvGrad(p, grad, oWo, d, d, ctx, xb, dy, xb, dctx, xb)
      // ctx_i = Σ_j a_ij v_j ; scores through softmax
      var j = 0
      while (j < n) {
        var acc = 0.0; c = 0
        while (c < d) {
          dv(j * d + c) += a(i * nPos + j) * dctx(xb + c)
          acc += v(j * d + c) * dctx(xb + c)
          c += 1
        }
        da(j) = acc
        j += 1
      }
      // softmax jacobian: ds_j = a_j * (da_j - Σ_m a_m da_m)
      var dot = 0.0; j = 0
      while (j < n) { dot += a(i * nPos + j) * da(j); j += 1 }
      j = 0
      while (j < n) {
        val dsj = a(i * nPos + j) * (da(j) - dot) * scale
        c = 0
        while (c < d) {
          dq(xb + c) += dsj * k(j * d + c)
          dk(j * d + c) += dsj * q(xb + c)
          c += 1
        }
        j += 1
      }
      i += 1
    }
    // q/k/v projections and embeddings (no token, no embedding grad)
    i = 0
    while (i < nPos) {
      val xb = i * d
      mvGrad(p, grad, oWq, d, d, x, xb, dq, xb, dx, xb)
      mvGrad(p, grad, oWk, d, d, x, xb, dk, xb, dx, xb)
      mvGrad(p, grad, oWv, d, d, x, xb, dv, xb, dx, xb)
      var c = 0
      while (c < d) {
        grad(oPos + i * d + c) += dx(xb + c)
        if (in(i) >= 0) grad(embOff(i, in(i)) + c) += dx(xb + c)
        c += 1
      }
      i += 1
    }
  }

  /** Deterministic full-batch Adam: each step zeroes a gradient buffer,
    * lets `lossAndGrad` fill it, updates [[params]], then calls
    * `afterStep` with the 1-based step number. */
  def adam(steps: Int, lr: Double)(lossAndGrad: Array[Double] => Unit)(
      afterStep: Int => Unit): Unit = {
    val g = new Array[Double](nParams)
    val m = new Array[Double](nParams)
    val v = new Array[Double](nParams)
    val (b1, b2, eps) = (0.9, 0.999, 1e-8)
    var s = 1
    while (s <= steps) {
      java.util.Arrays.fill(g, 0.0)
      lossAndGrad(g)
      val c1 = 1.0 - math.pow(b1, s.toDouble)
      val c2 = 1.0 - math.pow(b2, s.toDouble)
      var i = 0
      while (i < nParams) {
        m(i) = b1 * m(i) + (1 - b1) * g(i)
        v(i) = b2 * v(i) + (1 - b2) * g(i) * g(i)
        params(i) -= lr * (m(i) / c1) / (math.sqrt(v(i) / c2) + eps)
        i += 1
      }
      afterStep(s)
      s += 1
    }
  }
}
