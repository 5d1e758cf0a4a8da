package graft.plots

import java.awt.image.BufferedImage
import java.awt.{Color, Font}
import java.io.ByteArrayOutputStream
import javax.imageio.ImageIO

import graft.core.{EnergyFrame, EnergySeries}

/** Pure-JVM rendering sink for the plot surface — the `save_and_show`
  * counterpart (`/root/reference/energy_pandas/plotting.py:18-102`,
  * `energypandas.py:679-800` series `plot2d`, `:1010-1106` frame
  * `plot2d`): the period-matrix heatmap (days on x, period slot on y,
  * RdBu diverging colormap under (vmin, vmax[, vcenter]) normalization
  * with a labeled colorbar) rendered to PNG bytes with
  * `java.awt.image.BufferedImage` + `ImageIO` — headless, zero
  * dependencies beyond the JDK.
  *
  * Division of labor at scale: everything DATA-side is the existing
  * distributed matrix layer ([[EnergySeries.toPeriodMatrix]] — the tsam
  * `unstackToPeriods` analog, one pivot aggregate), which reduces any
  * input to a periods × periodLength matrix. Rendering collects THAT
  * matrix — already aggregation-bounded (a year of hours is 365 × 24
  * doubles) — so the driver action is plot-sized, never corpus-sized;
  * a loud `require` enforces the bound. This mirrors the reference,
  * where matplotlib receives the stacked matrix, not the raw series.
  *
  * Deviations from matplotlib (documented, deterministic): the RdBu
  * ramp interpolates the 11 ColorBrewer RdBu anchor colors (the same
  * palette matplotlib's "RdBu" is built from) linearly in RGB; axis
  * annotations draw the RESOLUTION_NAME xlabel/ylabel + integer tick
  * numbers in fixed-width margins (no autoscaled matplotlib tick
  * engine — cell geometry is exact instead); `show` is a no-op in a
  * headless engine. Output bytes are deterministic for a given
  * matrix — spec-pinned, render twice byte-equal. */
object Render {

  /** ColorBrewer RdBu 11-class anchors (Cynthia Brewer, colorbrewer2
    * .org, Apache-style license) — index 0 = dark red (low) … 10 =
    * dark blue (high), matching matplotlib's "RdBu" orientation. */
  private val RdBu: Array[(Int, Int, Int)] = Array(
    (103, 0, 31), (178, 24, 43), (214, 96, 77), (244, 165, 130),
    (253, 219, 199), (247, 247, 247), (209, 229, 240), (146, 197, 222),
    (67, 147, 195), (33, 102, 172), (5, 48, 97))

  /** t ∈ [0,1] → packed RGB along the RdBu ramp (linear between
    * anchors; clamped outside). */
  def rdbu(t: Double): Int = {
    val x = math.max(0.0, math.min(1.0, t)) * (RdBu.length - 1)
    val i = math.min(RdBu.length - 2, x.toInt)
    val f = x - i
    val (r0, g0, b0) = RdBu(i); val (r1, g1, b1) = RdBu(i + 1)
    def mix(a: Int, b: Int): Int = math.round(a + (b - a) * f).toInt
    new Color(mix(r0, r1), mix(g0, g1), mix(b0, b1)).getRGB
  }

  /** Normalization: linear vmin→0, vmax→1; with `vcenter`, the
    * two-slope form (matplotlib `TwoSlopeNorm`): vmin→0, vcenter→0.5,
    * vmax→1, piecewise linear. */
  def norm(v: Double, vmin: Double, vmax: Double,
      vcenter: Option[Double] = None): Double = vcenter match {
    case Some(c) if vmax > c && c > vmin =>
      if (v <= c) 0.5 * (v - vmin) / (c - vmin)
      else 0.5 + 0.5 * (v - c) / (vmax - c)
    case _ =>
      if (vmax == vmin) 0.5 else (v - vmin) / (vmax - vmin)
  }

  private val MissingRGB = new Color(220, 220, 220).getRGB // null cells
  private val MaxCells = 2000000 // loud bound on the driver collect

  // ---- Column twins of the ramp math (for the oracle queries) --------
  // Bit-parity with the JVM renderer is load-bearing (PlotRenderSpec
  // pins PNG bytes to the same mapping the q181/q185/q186 oracles
  // certify), so each twin reproduces the scalar code's operation order
  // exactly: same clamp order, same a + (b−a)·f association,
  // Math.round(x) == floor(x + 0.5) for the in-range positive channels.
  // CaseWhen over the 10 ramp segments keeps the whole thing inside
  // whole-stage codegen — no ScalaUDF anywhere in the query surface.

  /** Column twin of [[norm]] (no-vcenter form). */
  def normCol(v: org.apache.spark.sql.Column, lo: org.apache.spark.sql.Column,
      hi: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    when(hi === lo, lit(0.5)).otherwise((v - lo) / (hi - lo))
  }

  /** Column twin of [[rdbu]], returning the (r, g, b) channels directly
    * (the packed-int form only ever feeds channel extraction). */
  def rdbuCols(t: org.apache.spark.sql.Column)
      : (org.apache.spark.sql.Column, org.apache.spark.sql.Column,
         org.apache.spark.sql.Column) = {
    import org.apache.spark.sql.functions._
    // NaN parity with the scalar: math.min/max PROPAGATE NaN, so the
    // JVM path ends at Math.round(NaN) = 0 → black (0,0,0) — while
    // Spark's least/greatest order NaN above every double, which would
    // pin NaN to the dark-blue 1.0 end (and ANSI mode forbids just
    // letting NaN reach the int cast). ONE outer when(nan, (0,0,0))
    // guards the whole triple: CaseWhen branches evaluate lazily (in
    // both interpreted and codegen paths, and subexpression elimination
    // never hoists a branch-only expression), so the ANSI-unsafe
    // x.cast("int") below can never see NaN — and keeping the guard out
    // of `i` keeps it out of the 9 `i === seg` comparisons × 3 channels
    // it would otherwise be duplicated into (the round-11 q185 floor
    // exceedance was exactly that tree bloat). The struct form also
    // lets codegen share one (x, i, f) evaluation across all three
    // channel extracts when the extract-through-CaseWhen rewrite does
    // not fire. PlotRenderSpec's twin==scalar NaN pins cover this path.
    val x = greatest(lit(0.0), least(lit(1.0), t)) * lit((RdBu.length - 1).toDouble)
    val i = least(lit(RdBu.length - 2), x.cast("int"))
    val f = x - i.cast("double")
    def chan(sel: ((Int, Int, Int)) => Int): org.apache.spark.sql.Column = {
      val mixed = (1 until RdBu.length - 1).foldLeft(
        lit(sel(RdBu(0)).toDouble) +
          lit((sel(RdBu(1)) - sel(RdBu(0))).toDouble) * f) { (acc, seg) =>
        when(i === seg, lit(sel(RdBu(seg)).toDouble) +
          lit((sel(RdBu(seg + 1)) - sel(RdBu(seg))).toDouble) * f)
          .otherwise(acc)
      }
      floor(mixed + lit(0.5)).cast("int") // Math.round semantics
    }
    val rgb = when(isnan(t), // Math.round(NaN).toInt == 0, every channel
        struct(lit(0).as("r"), lit(0).as("g"), lit(0).as("b")))
      .otherwise(struct(chan(_._1).as("r"), chan(_._2).as("g"),
        chan(_._3).as("b")))
    (rgb.getField("r"), rgb.getField("g"), rgb.getField("b"))
  }

  /** Column twin of [[contourBand]]. */
  def contourBandCol(v: org.apache.spark.sql.Column,
      lo: org.apache.spark.sql.Column, hi: org.apache.spark.sql.Column,
      levels: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    // same NaN-parity story as [[rdbuCols]]: the scalar's min/max chain
    // propagates NaN and NaN.toInt = 0 lands in band 0; Spark's clamp
    // would pin NaN to the TOP band without the guard
    val n = normCol(v, lo, hi)
    val t = least(lit(1.0), greatest(lit(0.0), n))
    when(isnan(n), lit(0)).otherwise(
      least(lit(levels - 1), floor(t * lit(levels.toDouble)).cast("int")))
  }

  /** The reference's `RESOLUTION_NAME` (`energypandas.py:805-814`)
    * keyed by the exact duration: a span is named by the COARSEST unit
    * that divides it evenly — the headless analog of
    * `pd.Timedelta.resolution_string` on whole-unit spans. */
  def resolutionName(seconds: Long): String =
    if (seconds % 86400 == 0) "Days"
    else if (seconds % 3600 == 0) "Hours"
    else if (seconds % 60 == 0) "Minutes"
    else "Seconds"

  private def unitSeconds(name: String): Long = name match {
    case "Days" => 86400L; case "Hours" => 3600L
    case "Minutes" => 60L; case _ => 1L
  }

  /** Default `(xlabel, ylabel)` of a period-matrix plot, mirroring the
    * reference's construction (`energypandas.py:759-770`): with an
    * hourly step and periodLength 24 this yields
    * `("Days", "Hours of Day")`; a multi-unit step gains the `n-`
    * prefix (15-minute data → "15-Minutes of Day"). Public — spec- and
    * doc-visible API surface. */
  def axisLabels(stepSeconds: Long, periodLength: Int): (String, String) = {
    val stepName = resolutionName(stepSeconds)
    val n = stepSeconds / unitSeconds(stepName)
    val prefix = if (n > 1) s"$n-" else ""
    val periodName = resolutionName(stepSeconds * periodLength)
    (periodName, s"$prefix$stepName of ${periodName.dropRight(1)}")
  }

  // axis-annotation geometry (labels default ON in plot2d, mirroring
  // the reference's axis_off=False): tick STRIP (numbers) sits between
  // the axis LABEL and the panel
  private val TickFont = new Font(Font.MONOSPACED, Font.PLAIN, 9)
  private val LabelFont = new Font(Font.MONOSPACED, Font.PLAIN, 11)
  private val YLabelW = 12   // rotated ylabel column
  private val YTickW = 18    // y tick numbers
  private val XLabelH = 12   // xlabel row
  private val XTickH = 10    // x tick numbers

  /** Tick positions: ~4 ticks on y (slot axis), ~8 on x (period axis),
    * snapped to whole indices — 24 slots tick at 0/6/12/18, the
    * familiar hour marks. */
  private def tickIdx(n: Int, target: Int): Seq[Int] = {
    val step = math.max(1, n / target)
    0 until n by step
  }

  /** Draw tick numbers + axis labels around a panel at (x0, y0). The y
    * axis draws when `ylabel` is set, the x axis when `xlabel` is —
    * the frame layout reuses this per panel with the x axis only under
    * the bottom one (sharex rendering). */
  private def drawAxes(img: BufferedImage, x0: Int, y0: Int,
      nP: Int, nS: Int, cellW: Int, cellH: Int,
      xlabel: Option[String], ylabel: Option[String]): Unit = {
    val g = img.createGraphics()
    g.setColor(Color.BLACK)
    g.setFont(TickFont)
    val fm = g.getFontMetrics
    if (ylabel.isDefined) tickIdx(nS, 4).foreach { s =>
      val label = s.toString
      g.drawString(label, x0 - 2 - fm.stringWidth(label),
        y0 + s * cellH + cellH / 2 + 3)
    }
    if (xlabel.isDefined) tickIdx(nP, 8).foreach { p =>
      val label = p.toString
      g.drawString(label,
        x0 + p * cellW + (cellW - fm.stringWidth(label)) / 2,
        y0 + nS * cellH + 8)
    }
    g.setFont(LabelFont)
    val fm2 = g.getFontMetrics
    xlabel.foreach(xl => g.drawString(xl,
      x0 + (nP * cellW - fm2.stringWidth(xl)) / 2,
      y0 + nS * cellH + XTickH + 10))
    ylabel.foreach { yl =>
      val old = g.getTransform
      g.rotate(-math.Pi / 2)
      // after rotate(-90), (x, y) = (-imageY, imageX): center along the
      // panel's vertical extent, baseline in the ylabel column
      g.drawString(yl,
        -(y0 + (nS * cellH + fm2.stringWidth(yl)) / 2), x0 - YTickW - 3)
      g.setTransform(old)
    }
    g.dispose()
  }

  /** One heatmap panel: `matrix(p)(s)` = value of period p, slot s
    * (None = missing). x = period, y = slot (slot 0 at top — imshow's
    * default origin), each cell `cellW` × `cellH` px. */
  private def panel(img: BufferedImage, x0: Int, y0: Int,
      matrix: Array[Array[Option[Double]]], vmin: Double, vmax: Double,
      vcenter: Option[Double], cellW: Int, cellH: Int): Unit =
    for (p <- matrix.indices; s <- matrix(p).indices) {
      val rgb = matrix(p)(s) match {
        case Some(v) => rdbu(norm(v, vmin, vmax, vcenter))
        case None    => MissingRGB
      }
      for (dx <- 0 until cellW; dy <- 0 until cellH)
        img.setRGB(x0 + p * cellW + dx, y0 + s * cellH + dy, rgb)
    }

  /** Vertical colorbar: vmax (t=1) at top, vmin at bottom — matplotlib
    * orientation — plus the units label underneath when present. */
  private def colorbarPanel(img: BufferedImage, x0: Int, y0: Int,
      w: Int, h: Int, vcenter: Option[Double]): Unit =
    for (y <- 0 until h; dx <- 0 until w)
      img.setRGB(x0 + dx, y0 + y, rdbu(1.0 - y.toDouble / math.max(1, h - 1)))

  /** Render a period-matrix heatmap to PNG bytes.
    *
    * `matrix(p)(s)`: periods on x, slots on y. vmin/vmax default to the
    * data min/max (the reference's default normalization). */
  def renderMatrix(matrix: Array[Array[Option[Double]]],
      vmin: Option[Double] = None, vmax: Option[Double] = None,
      vcenter: Option[Double] = None, cellW: Int = 8, cellH: Int = 8,
      colorbar: Boolean = true, title: Option[String] = None,
      unitsLabel: Option[String] = None, xlabel: Option[String] = None,
      ylabel: Option[String] = None): Array[Byte] = {
    require(matrix.nonEmpty && matrix.head.nonEmpty, "empty matrix")
    val nP = matrix.length; val nS = matrix.map(_.length).max
    require(nP.toLong * nS <= MaxCells,
      s"plot matrix $nP x $nS exceeds $MaxCells cells — aggregate first " +
        "(the data layer is the distributed part; rendering is plot-sized)")
    val flat = matrix.iterator.flatten.flatten
    val lo = vmin.getOrElse(if (flat.isEmpty) 0.0
      else matrix.iterator.flatten.flatten.min)
    val hi = vmax.getOrElse(if (flat.isEmpty) 1.0
      else matrix.iterator.flatten.flatten.max)
    val axes = xlabel.isDefined || ylabel.isDefined
    val top = if (title.isDefined) 16 else 0
    val left = if (axes) YLabelW + YTickW else 0
    val cbW = if (colorbar) 18 else 0
    val cbGap = if (colorbar) 8 else 0
    val bottom = (if (axes) XTickH + XLabelH + 2 else 0) +
      (if (unitsLabel.isDefined && colorbar) 14 else 0)
    val w = left + nP * cellW + cbGap + cbW
    val h = top + nS * cellH + bottom
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    g.setColor(Color.WHITE); g.fillRect(0, 0, w, h)
    g.dispose()
    panel(img, left, top, matrix.map(_.padTo(nS, None)), lo, hi, vcenter,
      cellW, cellH)
    if (colorbar)
      colorbarPanel(img, left + nP * cellW + cbGap, top, cbW, nS * cellH,
        vcenter)
    if (axes)
      drawAxes(img, left, top, nP, nS, cellW, cellH, xlabel, ylabel)
    if (title.isDefined || (unitsLabel.isDefined && colorbar)) {
      val g2 = img.createGraphics()
      g2.setColor(Color.BLACK)
      g2.setFont(LabelFont)
      title.foreach(t => g2.drawString(t, 2, 12))
      if (colorbar) unitsLabel.foreach(u =>
        g2.drawString(s"[$u]", math.max(0, w - cbW - cbGap), h - 3))
      g2.dispose()
    }
    val out = new ByteArrayOutputStream()
    ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** Series `plot2d`: unstack to the period matrix (distributed pivot),
    * collect the plot-sized result, render. Mirrors
    * `energypandas.py:679-800` (title defaults to the series name,
    * colorbar labeled with the units, axis tick numbers + the
    * RESOLUTION_NAME xlabel/ylabel drawn unless `axisOff` — the
    * reference's `axis_off=False` default at `:685`; explicit
    * `xlabel`/`ylabel` override the derived defaults as in the
    * reference). The labels take the step that the unstack already
    * inferred, so the whole plot runs two Spark actions. */
  def plot2d(es: EnergySeries, periodLength: Int = 24,
      vmin: Option[Double] = None, vmax: Option[Double] = None,
      vcenter: Option[Double] = None, cellW: Int = 8, cellH: Int = 8,
      colorbar: Boolean = true, axisOff: Boolean = false,
      xlabel: Option[String] = None,
      ylabel: Option[String] = None): Array[Byte] = {
    val (m, stepSeconds) = collectMatrix(es, periodLength)
    val (xl, yl) =
      if (axisOff) (None, None)
      else {
        val (dx, dy) = axisLabels(stepSeconds, periodLength)
        (Some(xlabel.getOrElse(dx)), Some(ylabel.getOrElse(dy)))
      }
    renderMatrix(m, vmin, vmax, vcenter, cellW, cellH, colorbar,
      title = es.name, unitsLabel = es.units.map(_.raw),
      xlabel = xl, ylabel = yl)
  }

  /** Frame `plot2d` (`energypandas.py:1010-1106`, `subplots=True`,
    * vertical layout, shared normalization): one panel per column
    * stacked vertically, one shared colorbar. With axes on (the
    * reference's `axis_off=False` default) each panel draws its y
    * ticks + the RESOLUTION_NAME ylabel; x ticks + xlabel render once
    * under the bottom panel — the `sharex=True` rendering. */
  def plot2dFrame(ef: EnergyFrame, periodLength: Int = 24,
      vmin: Option[Double] = None, vmax: Option[Double] = None,
      vcenter: Option[Double] = None, cellW: Int = 8, cellH: Int = 8,
      colorbar: Boolean = true, axisOff: Boolean = false): Array[Byte] = {
    val cols = ef.valueCols
    require(cols.nonEmpty, "frame has no value columns")
    val collected = cols.map(c => collectMatrix(ef(c), periodLength))
    val mats = collected.map(_._1)
    val nS = mats.map(_.map(_.length).max).max
    val nP = mats.map(_.length).max
    val flat = mats.iterator.flatMap(_.iterator.flatten.flatten)
    val lo = vmin.getOrElse(if (flat.isEmpty) 0.0
      else mats.iterator.flatMap(_.iterator.flatten.flatten).min)
    val flat2 = mats.iterator.flatMap(_.iterator.flatten.flatten)
    val hi = vmax.getOrElse(if (flat2.isEmpty) 1.0
      else mats.iterator.flatMap(_.iterator.flatten.flatten).max)
    require(mats.length.toLong * nP * nS <= MaxCells,
      s"frame plot ${mats.length} x $nP x $nS exceeds $MaxCells cells — " +
        "aggregate first")
    val padded = mats.map(m =>
      m.map(_.padTo(nS, None: Option[Double]))
        .padTo(nP, Array.fill(nS)(None: Option[Double])))
    // panels painted at vertical offsets with a 4px (cell-aligned)
    // gutter left BACKGROUND WHITE — a gutter is layout, not absent
    // data, so it must not read as the missing-cell gray
    val gutterPx = math.max(1, 4 / cellH) * cellH
    val panelH = nS * cellH
    val panelsH = mats.length * panelH + (mats.length - 1) * gutterPx
    val unitsLabel = ef.unitsMap.values.headOption.map(_.raw)
    val labels =
      if (axisOff) None
      else Some(axisLabels(collected.head._2, periodLength))
    val left = if (labels.isDefined) YLabelW + YTickW else 0
    val cbW = if (colorbar) 18 else 0
    val cbGap = if (colorbar) 8 else 0
    val bottom = (if (labels.isDefined) XTickH + XLabelH + 2 else 0) +
      (if (unitsLabel.isDefined && colorbar) 14 else 0)
    val w = left + nP * cellW + cbGap + cbW
    val h = panelsH + bottom
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    g.setColor(Color.WHITE); g.fillRect(0, 0, w, h)
    g.dispose()
    padded.zipWithIndex.foreach { case (m, i) =>
      panel(img, left, i * (panelH + gutterPx), m, lo, hi, vcenter,
        cellW, cellH)
      labels.foreach { case (xl, yl) =>
        val isBottom = i == padded.length - 1
        drawAxes(img, left, i * (panelH + gutterPx), nP, nS, cellW, cellH,
          if (isBottom) Some(xl) else None, Some(yl))
      }
    }
    if (colorbar)
      colorbarPanel(img, left + nP * cellW + cbGap, 0, cbW, panelsH,
        vcenter)
    if (unitsLabel.isDefined && colorbar) {
      val g2 = img.createGraphics()
      g2.setColor(Color.BLACK)
      g2.setFont(new Font(Font.MONOSPACED, Font.PLAIN, 11))
      unitsLabel.foreach(u =>
        g2.drawString(s"[$u]", math.max(0, w - cbW - cbGap), h - 3))
      g2.dispose()
    }
    val out = new ByteArrayOutputStream()
    ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** plot3d "polygon" kind, headless (`energypandas.py:414-601` with
    * `plotting.py:119-148` `_polygon_plot`): each PERIOD of the matrix
    * becomes a filled polygon of its profile, stacked back-to-front in
    * an oblique 2-D projection (the PolyCollection-at-an-angle look) —
    * period p is offset by (p·skewX, −p·skewY), painted farthest-first
    * so near periods occlude far ones, colored along the RdBu ramp by
    * period index (the reference colormaps the collection the same
    * way). Values normalize to [0, plotH] over (vmin, vmax); missing
    * slots drop to the baseline (documented deviation from
    * matplotlib's NaN gap). Same driver-side bound story as
    * [[renderMatrix]]: the matrix arrives aggregation-bounded. */
  def renderRidges(matrix: Array[Array[Option[Double]]],
      vmin: Option[Double] = None, vmax: Option[Double] = None,
      cellW: Int = 8, plotH: Int = 96, skewX: Int = 4, skewY: Int = 6,
      title: Option[String] = None): Array[Byte] = {
    require(matrix.nonEmpty && matrix.head.nonEmpty, "empty matrix")
    val nP = matrix.length; val nS = matrix.map(_.length).max
    require(nP.toLong * nS <= MaxCells, s"plot matrix $nP x $nS exceeds " +
      s"$MaxCells cells — aggregate first")
    val flat = matrix.iterator.flatten.flatten
    val lo = vmin.getOrElse(if (flat.isEmpty) 0.0
      else matrix.iterator.flatten.flatten.min)
    val hi = vmax.getOrElse(if (flat.isEmpty) 1.0
      else matrix.iterator.flatten.flatten.max)
    val top = if (title.isDefined) 16 else 0
    val w = (nS - 1) * cellW + (nP - 1) * skewX + 2
    val h = top + plotH + (nP - 1) * skewY + 2
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    g.setColor(Color.WHITE); g.fillRect(0, 0, w, h)
    // back (last period) first; front (period 0) last, at bottom-left
    for (p <- (nP - 1) to 0 by -1) {
      val row = matrix(p).padTo(nS, None)
      val x0 = p * skewX
      val yBase = top + plotH + (nP - 1 - p) * skewY
      val xs = new Array[Int](nS + 2)
      val ys = new Array[Int](nS + 2)
      xs(0) = x0; ys(0) = yBase
      for (s <- 0 until nS) {
        xs(s + 1) = x0 + s * cellW
        ys(s + 1) = yBase - math.round(
          norm(row(s).getOrElse(lo), lo, hi) * plotH).toInt
      }
      xs(nS + 1) = x0 + (nS - 1) * cellW; ys(nS + 1) = yBase
      val t = if (nP <= 1) 0.5 else p.toDouble / (nP - 1)
      g.setColor(new Color(rdbu(t)))
      g.fillPolygon(xs, ys, nS + 2)
      g.setColor(Color.BLACK)
      g.drawPolyline(xs.slice(1, nS + 1), ys.slice(1, nS + 1), nS)
    }
    if (title.isDefined) {
      g.setColor(Color.BLACK)
      g.setFont(new Font(Font.MONOSPACED, Font.PLAIN, 11))
      title.foreach(tl => g.drawString(tl, 2, 12))
    }
    g.dispose()
    val out = new ByteArrayOutputStream()
    ImageIO.write(img, "png", out)
    out.toByteArray
  }

  // ---- plot3d kind="surface" / "contour" ---------------------------
  // (`energypandas.py:483-560` kind dispatch; `plotting.py:119-148`
  // `_plot_surface` with `LightSource(270, 45)` hillshading)

  /** Raw (pre-rescale) hillshade intensity of one surface cell: the
    * unit normal of the `vertExag`-scaled height field dotted with the
    * reference's light, `LightSource(azdeg=270, altdeg=45)`
    * (`plotting.py:133`). With az' = 90° − 270° the light direction is
    * (−√2/2, 0, √2/2) and the normal ∝ (−dx·e, −dy·e, 1), so the dot
    * product reduces to √2/2 · (dx·e + 1) / ‖normal‖. Public — the
    * q185 oracle reproduces this formula cell-for-cell in SQL, so the
    * exact operation ORDER here is part of the contract. */
  def hillshadeRaw(dx: Double, dy: Double, vertExag: Double = 0.1)
      : Double = {
    val ex = dx * vertExag
    val ey = dy * vertExag
    0.7071067811865476 * (ex + 1.0) / math.sqrt(ex * ex + ey * ey + 1.0)
  }

  /** Pegtop soft-light blend of one color channel (`c` in 0..255) with
    * a rescaled hillshade intensity `i` in [0, 1] — matplotlib's
    * `blend_mode="soft"` formula: 2·i·c + (1 − 2·i)·c². Returns the
    * blended channel in 0..255. Same order-of-operations contract as
    * [[hillshadeRaw]]. */
  def softLight(c: Int, i: Double): Int = {
    val cf = c / 255.0
    val r = (2.0 * i) * cf + (1.0 - 2.0 * i) * (cf * cf)
    math.floor(r * 255.0 + 0.5).toInt
  }

  /** `np.gradient`-style 1-D difference at index `k` of `zs`: central
    * in the interior, one-sided at the edges, 0 for a single sample. */
  private def grad1(zs: Array[Double], k: Int): Double =
    if (zs.length < 2) 0.0
    else if (k == 0) zs(1) - zs(0)
    else if (k == zs.length - 1) zs(k) - zs(k - 1)
    else (zs(k + 1) - zs(k - 1)) / 2.0

  /** plot3d "surface" kind, headless: the period-matrix height field
    * rendered as a SHADED-RELIEF heatmap — per-cell RdBu ramp color
    * soft-light-blended with the LightSource(270, 45) hillshade of the
    * vert_exag=0.1 surface (the reference's `_plot_surface` facecolor
    * math), intensity rescaled over the matrix like matplotlib's
    * `hillshade`. Documented deviation (DEVIATIONS): the oblique 3-D
    * projection is flattened to the period × slot grid — the shading
    * carries the relief — and missing cells take the matrix minimum
    * for gradient purposes but render missing-gray. */
  def renderSurface(matrix: Array[Array[Option[Double]]],
      vmin: Option[Double] = None, vmax: Option[Double] = None,
      cellW: Int = 8, cellH: Int = 8, vertExag: Double = 0.1,
      title: Option[String] = None): Array[Byte] = {
    require(matrix.nonEmpty && matrix.head.nonEmpty, "empty matrix")
    val nP = matrix.length; val nS = matrix.map(_.length).max
    require(nP.toLong * nS <= MaxCells, s"plot matrix $nP x $nS exceeds " +
      s"$MaxCells cells — aggregate first")
    val flat = matrix.iterator.flatten.flatten
    val lo = vmin.getOrElse(if (flat.isEmpty) 0.0
      else matrix.iterator.flatten.flatten.min)
    val hi = vmax.getOrElse(if (flat.isEmpty) 1.0
      else matrix.iterator.flatten.flatten.max)
    val z = matrix.map(_.padTo(nS, None).map(_.getOrElse(lo)))
    // dx along the slot axis, dy along the period axis (the reference's
    // hour / day axes after unstackToPeriods)
    val raw = Array.tabulate(nP, nS) { (p, s) =>
      val dx = grad1(z(p), s)
      val dy = grad1(Array.tabulate(nP)(q => z(q)(s)), p)
      hillshadeRaw(dx, dy, vertExag)
    }
    val rmin = raw.iterator.flatten.min
    val rmax = raw.iterator.flatten.max
    def rescale(r: Double): Double =
      if (rmax == rmin) 0.5 else (r - rmin) / (rmax - rmin)
    val top = if (title.isDefined) 16 else 0
    val w = nP * cellW
    val h = top + nS * cellH
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    g.setColor(Color.WHITE); g.fillRect(0, 0, w, h)
    g.dispose()
    val padded = matrix.map(_.padTo(nS, None: Option[Double]))
    for (p <- 0 until nP; s <- 0 until nS) {
      val rgb = padded(p)(s) match {
        case Some(v) =>
          val base = rdbu(norm(v, lo, hi))
          val i = rescale(raw(p)(s))
          (softLight((base >> 16) & 255, i) << 16) |
            (softLight((base >> 8) & 255, i) << 8) |
            softLight(base & 255, i)
        case None => MissingRGB
      }
      for (dx <- 0 until cellW; dy <- 0 until cellH)
        img.setRGB(p * cellW + dx, top + s * cellH + dy, rgb)
    }
    if (title.isDefined) {
      val g2 = img.createGraphics()
      g2.setColor(Color.BLACK)
      g2.setFont(new Font(Font.MONOSPACED, Font.PLAIN, 11))
      title.foreach(t => g2.drawString(t, 2, 12))
      g2.dispose()
    }
    val out = new ByteArrayOutputStream()
    ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** Level-band index of a value for the contour kind: [0, levels−1]
    * after clamped normalization. Public for the q186 oracle. */
  def contourBand(v: Double, lo: Double, hi: Double, levels: Int): Int = {
    val t = math.min(1.0, math.max(0.0,
      if (hi == lo) 0.5 else (v - lo) / (hi - lo)))
    math.min(levels - 1, math.floor(t * levels).toInt)
  }

  /** plot3d "contour" kind, headless: the reference draws
    * `contour3D(x, y, z, 150, cmap=...)` — 150 iso-level curves colored
    * along the ramp. The headless counterpart quantizes each cell into
    * its level band and fills it with the band's ramp color (the
    * filled-contour rendering of the same level set; a curve-only
    * variant carries no more information at heatmap cell sizes).
    * Missing cells render missing-gray. */
  def renderContour(matrix: Array[Array[Option[Double]]],
      vmin: Option[Double] = None, vmax: Option[Double] = None,
      levels: Int = 150, cellW: Int = 8, cellH: Int = 8,
      title: Option[String] = None): Array[Byte] = {
    require(levels >= 2, "levels must be >= 2")
    require(matrix.nonEmpty && matrix.head.nonEmpty, "empty matrix")
    val nP = matrix.length; val nS = matrix.map(_.length).max
    require(nP.toLong * nS <= MaxCells, s"plot matrix $nP x $nS exceeds " +
      s"$MaxCells cells — aggregate first")
    val flat = matrix.iterator.flatten.flatten
    val lo = vmin.getOrElse(if (flat.isEmpty) 0.0
      else matrix.iterator.flatten.flatten.min)
    val hi = vmax.getOrElse(if (flat.isEmpty) 1.0
      else matrix.iterator.flatten.flatten.max)
    val top = if (title.isDefined) 16 else 0
    val w = nP * cellW
    val h = top + nS * cellH
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    g.setColor(Color.WHITE); g.fillRect(0, 0, w, h)
    g.dispose()
    val padded = matrix.map(_.padTo(nS, None: Option[Double]))
    for (p <- 0 until nP; s <- 0 until nS) {
      val rgb = padded(p)(s) match {
        case Some(v) =>
          rdbu(contourBand(v, lo, hi, levels) / (levels - 1.0))
        case None => MissingRGB
      }
      for (dx <- 0 until cellW; dy <- 0 until cellH)
        img.setRGB(p * cellW + dx, top + s * cellH + dy, rgb)
    }
    if (title.isDefined) {
      val g2 = img.createGraphics()
      g2.setColor(Color.BLACK)
      g2.setFont(new Font(Font.MONOSPACED, Font.PLAIN, 11))
      title.foreach(t => g2.drawString(t, 2, 12))
      g2.dispose()
    }
    val out = new ByteArrayOutputStream()
    ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** Series `plot3d`: distributed unstack → render of the plot-sized
    * matrix, dispatching on `kind` exactly like the reference
    * (`energypandas.py:483-560`): "polygon" (default) → ridge stack,
    * "surface" → hillshaded relief, "contour" → level bands; anything
    * else is the reference's unsupported-kind error. */
  def plot3d(es: EnergySeries, periodLength: Int = 24,
      vmin: Option[Double] = None, vmax: Option[Double] = None,
      cellW: Int = 8, plotH: Int = 96,
      kind: String = "polygon"): Array[Byte] = kind match {
    case "polygon" =>
      renderRidges(collectMatrix(es, periodLength)._1, vmin, vmax, cellW,
        plotH, title = es.name)
    case "surface" =>
      renderSurface(collectMatrix(es, periodLength)._1, vmin, vmax,
        title = es.name)
    case "contour" =>
      renderContour(collectMatrix(es, periodLength)._1, vmin, vmax,
        title = es.name)
    case other =>
      throw new IllegalArgumentException(
        s"""plot kind "$other" is not supported""")
  }

  /** Grouped `plot3d` (`energypandas.py:476-481`: one ridge panel per
    * level-0 group): per-group day × hour matrices from ONE distributed
    * aggregate ([[EnergySeries.toDayHourMatrixBy]]), shared (vmin, vmax)
    * normalization across panels, stacked vertically with a 6 px
    * gutter, each panel titled with its group key. */
  def plot3dBy(es: EnergySeries, groupCol: String,
      cellW: Int = 8, plotH: Int = 96): Array[Byte] = {
    val rows = es.toDayHourMatrixBy(groupCol)
      .orderBy(groupCol, "period_date").collect()
    require(rows.nonEmpty, "no rows to plot")
    require(rows.length.toLong * 24 <= MaxCells,
      s"plot input ${rows.length} x 24 exceeds $MaxCells cells")
    val byGroup = rows.groupBy(_.get(0)).toSeq
      .sortBy(_._1.toString)
    val mats = byGroup.map { case (gk, rs) =>
      gk.toString -> rs.map { r =>
        (2 until r.length).map(i =>
          if (r.isNullAt(i)) None else Some(r.getDouble(i))).toArray
      }
    }
    val flat = mats.iterator.flatMap(_._2.iterator.flatten.flatten)
    val lo = flat.min
    val hi = mats.iterator.flatMap(_._2.iterator.flatten.flatten).max
    val panels = mats.map { case (gk, m) =>
      ImageIO.read(new java.io.ByteArrayInputStream(
        renderRidges(m, Some(lo), Some(hi), cellW, plotH,
          title = Some(gk))))
    }
    val gutter = 6
    val w = panels.map(_.getWidth).max
    val h = panels.map(_.getHeight).sum + gutter * (panels.size - 1)
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    g.setColor(Color.WHITE); g.fillRect(0, 0, w, h)
    var y = 0
    panels.foreach { pimg =>
      g.drawImage(pimg, 0, y, null)
      y += pimg.getHeight + gutter
    }
    g.dispose()
    val out = new ByteArrayOutputStream()
    ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** The reference's `save_and_show` contract, headless: write when
    * `save`, no-op for `show` (no display in an engine), return the
    * written path. File name = `filename` + "." + `fileFormat`
    * (`plotting.py:56`). */
  def saveAndShow(png: Array[Byte], save: Boolean = false,
      filename: String = "untitled",
      fileFormat: String = "png"): Option[java.nio.file.Path] =
    if (!save) None
    else {
      val p = java.nio.file.Paths.get(s"$filename.$fileFormat")
      java.nio.file.Files.write(p, png)
      Some(p)
    }

  /** Distributed unstack → driver collect of the plot-sized matrix,
    * with the step seconds the unstack inferred. The rows sort by period
    * on the driver (nulls first, as `orderBy` would): the collect is
    * plot-bounded, and a distributed sort would add a range-sampling
    * job. */
  private def collectMatrix(es: EnergySeries,
      periodLength: Int): (Array[Array[Option[Double]]], Long) = {
    val (pm, stepSeconds) = es.periodMatrix(periodLength)
    val rows = pm.collect()
      .sortBy(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    (rows.map { r =>
      (1 until r.length).map(i =>
        if (r.isNullAt(i)) None else Some(r.getDouble(i))).toArray
    }, stepSeconds)
  }
}
