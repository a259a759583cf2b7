package graft.ops

/** The reference's compute kernels K1–K5 (SURVEY.md §2.7), re-implemented as
  * pure Scala functions over row-major pixel arrays. No Spark dependency:
  * they are embarrassingly parallel row-level transforms that
  * [[Augment]] maps over a Dataset partition-locally (never shuffled).
  *
  * Fidelity notes (reference = generate_images_from_dicom.py):
  *  - randint/uniform draws and rejection-sampling loops consume a
  *    deterministic per-row RNG in the same order as the reference consumes
  *    `random` (`:117-118`, `:149-153`, `:178-185`, `:211`), but seeded
  *    explicitly — the reference is unseeded and thus unreproducible
  *    (SURVEY §7.4 standardizes on explicit seeds);
  *  - python `round()` is banker's rounding → `Math.rint` here;
  *  - the corners-only overlap test of shift_bbox (`:158-163`) and its
  *    skip-not-retry behavior are preserved, including the partial-overlap
  *    admissions it allows;
  *  - `ndimage.zoom` interpolation is replaced by nearest-neighbor resampling
  *    (deliberate: SURVEY §2.7 K4 — geometry and box math are the contract);
  *  - image size is parametric (reference hard-codes 1024, `:49` etc.).
  */
object Kernels {

  final case class Box(x: Int, y: Int, w: Int, h: Int)

  /** Deterministic RNG with python-random-shaped draws. */
  final class Rng(seed: Long) {
    private val r = new java.util.SplittableRandom(seed)
    /** random.randint(lo, hi) — inclusive both ends. */
    def randint(lo: Int, hi: Int): Int = lo + r.nextInt(hi - lo + 1)
    /** random.uniform(lo, hi). */
    def uniform(lo: Double, hi: Double): Double = lo + r.nextDouble() * (hi - lo)
  }

  /** Stable per-(image, pass, replica) seed so reruns and retries agree. */
  def seedFor(id: String, pass: Int, replica: Int): Long = {
    var h = 1125899906842597L
    id.foreach(c => h = 31 * h + c)
    h * 1000003L + pass * 1009L + replica
  }

  private def rint(d: Double): Int = Math.rint(d).toInt

  /** Intersection of a box with the image, as (x0, y0, pw, ph); None when
    * the box lies fully outside. Upstream kernels (shift, scale affine) can
    * legally emit out-of-bounds boxes — the reference would crash cutting
    * such a patch (numpy negative-index wrap / shape mismatch), we clip by
    * construction (SURVEY §7.4 "fix crashes"). */
  private def clipToImage(b: Box, w: Int, h: Int): Option[(Int, Int, Int, Int)] = {
    val x0 = math.max(0, b.x); val y0 = math.max(0, b.y)
    val x1 = math.min(w, b.x + b.w); val y1 = math.min(h, b.y + b.h)
    if (x1 > x0 && y1 > y0) Some((x0, y0, x1 - x0, y1 - y0)) else None
  }

  // ------------------------------------------------------------------- K1
  /** shift_image (`:116-127`): translate by (rx, ry) drawn from ±(x, y),
    * zero-fill the vacated border; boxes translate by the same offset
    * (unclamped, as in the reference). */
  def shiftImage(maxX: Int, maxY: Int, px: Array[Short], w: Int, h: Int,
      boxes: Seq[Box], rng: Rng): (Array[Short], Seq[Box]) = {
    val rx = rng.randint(-maxX, maxX)
    val ry = rng.randint(-maxY, maxY)
    val out = new Array[Short](px.length)
    var row = 0
    while (row < h) {
      val srcRow = row - ry
      if (srcRow >= 0 && srcRow < h) {
        val dstLo = math.max(0, rx)
        val dstHi = math.min(w, w + rx)
        if (dstHi > dstLo)
          System.arraycopy(px, srcRow * w + (dstLo - rx), out, row * w + dstLo, dstHi - dstLo)
      }
      row += 1
    }
    (out, boxes.map(b => Box(b.x + rx, b.y + ry, b.w, b.h)))
  }

  // ------------------------------------------------------------------- K2
  /** flip_image (`:130-137`): horizontal mirror; x' = w - x - boxW. */
  def flipImage(px: Array[Short], w: Int, h: Int, boxes: Seq[Box]): (Array[Short], Seq[Box]) = {
    val out = new Array[Short](px.length)
    var row = 0
    while (row < h) {
      var c = 0
      val base = row * w
      while (c < w) {
        out(base + c) = px(base + (w - 1 - c))
        c += 1
      }
      row += 1
    }
    (out, boxes.map(b => Box(w - b.x - b.w, b.y, b.w, b.h)))
  }

  /** Copy the pw×ph patch at (bx, by) out of `img` and zero the hole
    * (the box is already clipped to the image). */
  private def cutPatch(img: Array[Short], w: Int, bx: Int, by: Int,
      pw: Int, ph: Int): Array[Short] = {
    val patch = new Array[Short](ph * pw)
    var r = 0
    while (r < ph) {
      val at = (by + r) * w + bx
      System.arraycopy(img, at, patch, r * pw, pw)
      java.util.Arrays.fill(img, at, at + pw, 0.toShort)
      r += 1
    }
    patch
  }

  /** Paste a pw×ph patch with its origin at (nx, ny), dropping the pixels
    * that fall outside the w×h image. */
  private def pasteClipped(img: Array[Short], w: Int, h: Int,
      patch: Array[Short], pw: Int, ph: Int, nx: Int, ny: Int): Unit = {
    val c0 = math.max(0, -nx)
    val c1 = math.min(pw, w - nx)
    if (c1 > c0) {
      var r = math.max(0, -ny)
      while (r < ph && ny + r < h) {
        System.arraycopy(patch, r * pw + c0, img, (ny + r) * w + nx + c0, c1 - c0)
        r += 1
      }
    }
  }

  // ------------------------------------------------------------------- K3
  /** shift_bbox (`:140-169`): per box — draw (rx, ry) from ±(x, y),
    * rejection-sample while the new origin is negative; cut the patch, zero
    * the hole; SKIP the box if any of its four new corners lands inside
    * another box (corners-only test, partial overlaps admitted); else paste
    * (clipped to bounds) and emit the moved box. May emit fewer boxes. */
  def shiftBbox(maxX: Int, maxY: Int, px: Array[Short], w: Int, h: Int,
      boxes: Seq[Box], rng: Rng): (Array[Short], Seq[Box]) = {
    val img = px.clone()
    val out = Seq.newBuilder[Box]
    def inside(b: Box, cx: Int, cy: Int): Boolean =
      b.x <= cx && cx < b.x + b.w && b.y <= cy && cy < b.y + b.h

    boxes.zipWithIndex.foreach { case (b, idx) =>
      clipToImage(b, w, h).foreach { case (bx, by, pw, ph) =>
      var rx = rng.randint(-maxX, maxX)
      var ry = rng.randint(-maxY, maxY)
      while (by + ry < 0 || bx + rx < 0) {
        rx = rng.randint(-maxX, maxX)
        ry = rng.randint(-maxY, maxY)
      }
      val patch = cutPatch(img, w, bx, by, pw, ph)
      val others = boxes.indices.filter(_ != idx).map(boxes)
      val corners = Seq(
        (bx + rx, by + ry), (bx + pw + rx, by + ry),
        (bx + rx, by + ph + ry), (bx + pw + rx, by + ph + ry))
      if (!others.exists(o => corners.exists { case (cx, cy) => inside(o, cx, cy) })) {
        val ny = by + ry
        val nx = bx + rx
        pasteClipped(img, w, h, patch, pw, ph, nx, ny)
        out += Box(nx, ny, pw, ph)
      }
      }
    }
    (img, out.result())
  }

  /** Nearest-neighbor resample of a patch to (nh, nw). */
  private def resizeNearest(src: Array[Short], sw: Int, sh: Int,
      nw: Int, nh: Int): Array[Short] = {
    val out = new Array[Short](nh * nw)
    var r = 0
    while (r < nh) {
      val sr = math.min(sh - 1, math.max(0, rint(r.toDouble * sh / nh)))
      var c = 0
      while (c < nw) {
        val sc = math.min(sw - 1, math.max(0, rint(c.toDouble * sw / nw)))
        out(r * nw + c) = src(sr * sw + sc)
        c += 1
      }
      r += 1
    }
    out
  }

  // ------------------------------------------------------------------- K4
  /** scale_bbox (`:172-207`): per box — draw rf from [1/(1+f), 1+f],
    * rejection-sample while the scaled extent overruns the image; cut patch,
    * zero hole, resize (nearest), re-center on the old box center, clamp the
    * origin at 0, paste; emit [nx, ny, round(w*rf), round(h*rf)]. */
  def scaleBbox(factor: Double, px: Array[Short], w: Int, h: Int,
      boxes: Seq[Box], rng: Rng): (Array[Short], Seq[Box]) = {
    val img = px.clone()
    val out = Seq.newBuilder[Box]
    boxes.foreach { b =>
      clipToImage(b, w, h).foreach { case (bx, by, pw, ph) =>
      var rf = rng.uniform(1.0 / (1.0 + factor), 1.0 + factor)
      var attempts = 0
      while ((by + rint(ph * rf) > h || bx + rint(pw * rf) > w) && attempts < 1000) {
        rf = rng.uniform(1.0 / (1.0 + factor), 1.0 + factor)
        attempts += 1
      }
      val patch = cutPatch(img, w, bx, by, pw, ph)
      val nh = math.max(1, rint(ph * rf))
      val nw = math.max(1, rint(pw * rf))
      val scaled = resizeNearest(patch, pw, ph, nw, nh)
      val cy = by + rint(ph / 2.0)
      val cx = bx + rint(pw / 2.0)
      val ny = math.max(0, cy - rint((ph * rf) / 2.0))
      val nx = math.max(0, cx - rint((pw * rf) / 2.0))
      pasteClipped(img, w, h, scaled, nw, nh, nx, ny)
      out += Box(nx, ny, rint(pw * rf), rint(ph * rf))
      }
    }
    (img, out.result())
  }

  // ------------------------------------------------------------------- K5
  /** scale_image (`:210-252`): whole-image zoom by rf; shrink ⇒ center-pad,
    * grow ⇒ center-crop (±1 edge fixups as in the reference); boxes
    * transformed affinely about the image center. */
  def scaleImage(factor: Double, px: Array[Short], w: Int, h: Int,
      boxes: Seq[Box], rng: Rng): (Array[Short], Seq[Box]) = {
    val rf = rng.uniform(1.0 / (1.0 + factor), 1.0 + factor)
    val half = w / 2 // reference: 512 for 1024
    val z = rint(w * rf)
    val zoomed = resizeNearest(px, w, h, z, z)
    val out = new Array[Short](w * h)

    if (rf < 1) {
      var lower = half - rint(z / 2.0)
      val upper = half + rint(z / 2.0)
      if (upper - lower > z) lower += 1
      if (upper - lower < z) lower -= 1
      var r = 0
      while (r < z) {
        System.arraycopy(zoomed, r * z, out, (lower + r) * w + lower, z)
        r += 1
      }
    } else if (rf > 1) {
      var lower = rint(z / 2.0) - half
      val upper = rint(z / 2.0) + half
      if (upper - lower > w) lower += 1
      if (upper - lower < w) lower -= 1
      var r = 0
      while (r < h) {
        System.arraycopy(zoomed, (lower + r) * z + lower, out, r * w, w)
        r += 1
      }
    } else {
      System.arraycopy(zoomed, 0, out, 0, math.min(zoomed.length, out.length))
    }

    val nb = boxes.map { b =>
      val x1 = rint(rf * (b.x - half) + half)
      val y1 = rint(rf * (b.y - half)) + half
      val x2 = rint(rf * (b.x + b.w - half) + half)
      val y2 = rint(rf * (b.y + b.h - half)) + half
      Box(x1, y1, x2 - x1, y2 - y1)
    }
    (out, nb)
  }
}
