package graft.petro

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.chem.Chem

/** CIPW normative mineralogy (reference: src/petropandas/_calc.py:1052-1993;
  * the algorithm itself is the published GCDkit CIPW/CIPWhb norm).
  *
  * Three variants:
  *  - [[cipwNormSimple]] (C1): branch-free vectorized cascade -> pure
  *    Column arithmetic, whole-stage codegen'd, oracle-verifiable.
  *  - [[cipwNorm]] (C2) / [[cipwNormHb]] (C3): deeply data-dependent
  *    per-row allocation with early-exit stages -> a pure Scala row
  *    function under `Dataset.map` (compiled JVM code; parallelizes
  *    per-partition with no shuffle, so it scales linearly).
  */
object Cipw {

  val CIPW_INPUTS: Seq[String] = Seq("SiO2", "TiO2", "Al2O3", "Fe2O3", "FeO",
    "MnO", "MgO", "CaO", "Na2O", "K2O", "H2O", "CO2", "P2O5", "F", "S")

  val CIPW_RESULT_NAMES: Seq[String] = Seq(
    "Q", "C", "Or", "Ab", "An", "Lc", "Ne", "Kp", "Nc", "Ac", "Ns", "Ks",
    "Di", "MgDi", "FeDi", "Wo", "Hy", "En", "Fs", "Ol", "Fo", "Fa", "Dcs",
    "Mt", "Il", "Hm", "Tn", "Pf", "Ru", "Ap", "Fr", "Py", "Cc", "Sp",
    "MgSp", "FeSp", "Total")

  val CIPWHB_RESULT_NAMES: Seq[String] = Seq(
    "Q", "C", "Or", "Ab", "An", "Lc", "Ne", "Kp", "Nc", "Ac", "Ns", "Ks",
    "Di", "MgDi", "FeDi", "Wo", "Hy", "En", "Fs", "Ol", "Fo", "Fa", "Dcs",
    "Mt", "Il", "Hm", "Tn", "Pf", "Ru", "Ap", "Fr", "Py", "Cc", "Sp",
    "MgSp", "FeSp", "Bi", "MgBi", "FeBi", "Hbl", "Act", "MgAct", "FeAct",
    "Ed", "MgEd", "FeEd", "Ri", "Total")

  /** Normative-mineral weights composed from oxide MWs
    * (reference: _calc.py:1104-1161). Composites carry weight 1. */
  val normMw: Map[String, Double] = {
    def mw(s: String) = Chem.mw(s)
    Map(
      "Q" -> mw("SiO2"), "C" -> mw("Al2O3"),
      "Or" -> (mw("K2O") + mw("Al2O3") + 6 * mw("SiO2")),
      "Ab" -> (mw("Na2O") + mw("Al2O3") + 6 * mw("SiO2")),
      "An" -> (mw("CaO") + mw("Al2O3") + 2 * mw("SiO2")),
      "Lc" -> (mw("K2O") + mw("Al2O3") + 4 * mw("SiO2")),
      "Ne" -> (mw("Na2O") + mw("Al2O3") + 4 * mw("SiO2")),
      "Kp" -> (mw("K2O") + mw("Al2O3") + 2 * mw("SiO2")),
      "Nc" -> (mw("Na2O") + mw("CO2")),
      "Ac" -> (mw("Na2O") + mw("Fe2O3") + 4 * mw("SiO2")),
      "Ns" -> (mw("Na2O") + mw("SiO2")), "Ks" -> (mw("K2O") + mw("SiO2")),
      "Di" -> 1.0,
      "MgDi" -> (mw("CaO") + mw("MgO") + 2 * mw("SiO2")),
      "FeDi" -> (mw("CaO") + mw("FeO") + 2 * mw("SiO2")),
      "Wo" -> (mw("CaO") + mw("SiO2")),
      "Hy" -> 1.0,
      "En" -> (mw("MgO") + mw("SiO2")), "Fs" -> (mw("FeO") + mw("SiO2")),
      "Ol" -> 1.0,
      "Fo" -> (2 * mw("MgO") + mw("SiO2")), "Fa" -> (2 * mw("FeO") + mw("SiO2")),
      "Dcs" -> (mw("CaO") + 2 * mw("SiO2")),
      "Mt" -> (mw("FeO") + mw("Fe2O3")), "Il" -> (mw("FeO") + mw("TiO2")),
      "Hm" -> mw("Fe2O3"),
      "Tn" -> (mw("CaO") + mw("TiO2") + mw("SiO2")),
      "Pf" -> mw("TiO2"), "Ru" -> mw("TiO2"),
      "Ap" -> (2.0 / 3 * mw("Ca5(PO4)3F")), "Fr" -> mw("CaF2"),
      "Py" -> mw("FeS2"), "Cc" -> (mw("CaO") + mw("CO2")),
      "Sp" -> 1.0,
      "MgSp" -> (mw("MgO") + mw("Al2O3")), "FeSp" -> (mw("FeO") + mw("Al2O3")),
      "Bi" -> 1.0,
      "MgBi" -> (mw("K2O") + 6 * mw("MgO") + mw("Al2O3") + 6 * mw("SiO2")),
      "FeBi" -> (mw("K2O") + 6 * mw("FeO") + mw("Al2O3") + 6 * mw("SiO2")),
      "Hbl" -> 1.0, "Act" -> 1.0,
      "MgAct" -> (2 * mw("CaO") + 5 * mw("MgO") + 8 * mw("SiO2")),
      "FeAct" -> (2 * mw("CaO") + 5 * mw("FeO") + 8 * mw("SiO2")),
      "Ed" -> 1.0,
      "MgEd" -> (4 * mw("CaO") + 10 * mw("MgO") + mw("Na2O") + mw("Al2O3") + 14 * mw("SiO2")),
      "FeEd" -> (4 * mw("CaO") + 10 * mw("FeO") + mw("Na2O") + mw("Al2O3") + 14 * mw("SiO2")),
      "Ri" -> (mw("Na2O") + mw("Fe2O3") + 3 * mw("FeO") + 8 * mw("SiO2")))
  }

  // ---- C2/C3 row functions (pure Scala, run under Dataset.map) -------------

  /** Static slot layout for the row functions' working store. The 36
    * standard-CIPW names are an exact prefix of the CIPWhb list, so one
    * layout serves both variants: [0,36) shared minerals, [36,47) hb
    * extras, then mgr/fer/femg scratch. Names resolve to `final val` int
    * slots at class-init time — the hot loop does plain array indexing,
    * no per-row hashing (the reference's dict-keyed row state,
    * _calc.py:1319-1473, resolved ahead of time). */
  private object S {
    private val layout: Map[String, Int] =
      (CIPWHB_RESULT_NAMES.dropRight(1) ++ Seq("mgr", "fer", "femg"))
        .zipWithIndex.toMap
    val size: Int = layout.size
    val Q = layout("Q"); val C = layout("C"); val Or = layout("Or")
    val Ab = layout("Ab"); val An = layout("An"); val Lc = layout("Lc")
    val Ne = layout("Ne"); val Kp = layout("Kp"); val Nc = layout("Nc")
    val Ac = layout("Ac"); val Ns = layout("Ns"); val Ks = layout("Ks")
    val Di = layout("Di"); val MgDi = layout("MgDi"); val FeDi = layout("FeDi")
    val Wo = layout("Wo"); val Hy = layout("Hy"); val En = layout("En")
    val Fs = layout("Fs"); val Ol = layout("Ol"); val Fo = layout("Fo")
    val Fa = layout("Fa"); val Dcs = layout("Dcs"); val Mt = layout("Mt")
    val Il = layout("Il"); val Hm = layout("Hm"); val Tn = layout("Tn")
    val Pf = layout("Pf"); val Ru = layout("Ru"); val Ap = layout("Ap")
    val Fr = layout("Fr"); val Py = layout("Py"); val Cc = layout("Cc")
    val Sp = layout("Sp"); val MgSp = layout("MgSp"); val FeSp = layout("FeSp")
    val Bi = layout("Bi"); val MgBi = layout("MgBi"); val FeBi = layout("FeBi")
    val Hbl = layout("Hbl"); val Act = layout("Act"); val MgAct = layout("MgAct")
    val FeAct = layout("FeAct"); val Ed = layout("Ed"); val MgEd = layout("MgEd")
    val FeEd = layout("FeEd"); val Ri = layout("Ri")
    val mgr = layout("mgr"); val fer = layout("fer"); val femg = layout("femg")
  }
  private final class Y {
    val arr = new Array[Double](S.size)
    def apply(i: Int): Double = arr(i)
    def update(i: Int, v: Double): Unit = arr(i) = v
  }
  private val cipwMwArr: Array[Double] =
    CIPW_RESULT_NAMES.dropRight(1).map(normMw).toArray
  private val cipwHbMwArr: Array[Double] =
    CIPWHB_RESULT_NAMES.dropRight(1).map(normMw).toArray

  /** ox layout follows CIPW_INPUTS order. */
  private val iSiO2 = CIPW_INPUTS.indexOf("SiO2")
  private val iTiO2 = CIPW_INPUTS.indexOf("TiO2")
  private val iAl2O3 = CIPW_INPUTS.indexOf("Al2O3")
  private val iFe2O3 = CIPW_INPUTS.indexOf("Fe2O3")
  private val iFeO = CIPW_INPUTS.indexOf("FeO")
  private val iMnO = CIPW_INPUTS.indexOf("MnO")
  private val iMgO = CIPW_INPUTS.indexOf("MgO")
  private val iCaO = CIPW_INPUTS.indexOf("CaO")
  private val iNa2O = CIPW_INPUTS.indexOf("Na2O")
  private val iK2O = CIPW_INPUTS.indexOf("K2O")
  private val iCO2 = CIPW_INPUTS.indexOf("CO2")
  private val iP2O5 = CIPW_INPUTS.indexOf("P2O5")
  private val iF = CIPW_INPUTS.indexOf("F")
  private val iS = CIPW_INPUTS.indexOf("S")

  /** Shared allocation prefix (reference: _cipw_common_allocations,
    * _calc.py:1195-1316). Returns remaining (si,ti,al,fe3,fe2,mg,ca,na). */
  private def commonAllocations(ox: Array[Double],
      cancrinite: Boolean): (Y, Array[Double]) = {
    var si = ox(iSiO2); var ti = ox(iTiO2); var al = ox(iAl2O3)
    val fe3 = ox(iFe2O3); var fe2 = ox(iFeO) + ox(iMnO)
    val mg = ox(iMgO); var ca = ox(iCaO); var na = ox(iNa2O)
    var k = ox(iK2O); var co2 = ox(iCO2); var p = ox(iP2O5)
    var fl = ox(iF); var s = ox(iS)

    val y = new Y

    if (ca >= 10.0 / 3 * p) { y(S.Ap) = p; ca = ca - y(S.Ap) * 10 / 3 }
    else { y(S.Ap) = 3.0 / 10 * ca; p = p - y(S.Ap); ca = 0 }

    if (fl >= 2.0 / 3 * y(S.Ap) && !fl.isNaN) fl = fl - 2.0 / 3 * y(S.Ap)
    else fl = 0

    if (ca >= 0.5 * fl) { y(S.Fr) = 0.5 * fl; ca = ca - y(S.Fr) }
    else { y(S.Fr) = ca; fl = fl - 2 * y(S.Fr); ca = 0 }

    if (!s.isNaN) {
      if (fe2 >= 0.5 * s) { y(S.Py) = 0.5 * s; fe2 = fe2 - y(S.Py) }
      else { y(S.Py) = fe2; s = s - 2 * y(S.Py); fe2 = 0 }
    }

    if (cancrinite) { y(S.Nc) = co2; na = na - y(S.Nc) }

    if (!co2.isNaN) {
      if (ca >= co2) { y(S.Cc) = co2; ca = ca - y(S.Cc); co2 = 0 }
      else { y(S.Cc) = ca; co2 = co2 - y(S.Cc); ca = 0 }
    }

    if (fe2 >= ti) { y(S.Il) = ti; fe2 = fe2 - y(S.Il); ti = 0 }
    else { y(S.Il) = fe2; ti = ti - y(S.Il); fe2 = 0 }

    if (al >= k) { y(S.Or) = k; al = al - y(S.Or); si = si - 6 * y(S.Or); k = 0 }
    else {
      y(S.Or) = al; k = k - y(S.Or); si = si - 6 * y(S.Or); al = 0
      y(S.Ks) = k; si = si - y(S.Ks); k = 0
    }

    if (al >= na) { y(S.Ab) = na; al = al - y(S.Ab); si = si - 6 * y(S.Ab); na = 0 }
    else { y(S.Ab) = al; na = na - y(S.Ab); si = si - 6 * y(S.Ab); al = 0 }

    (y, Array(si, ti, al, fe3, fe2, mg, ca, na))
  }

  private val cipwExcluded: Array[Boolean] = {
    val ex = Set("MgDi", "FeDi", "En", "Fs", "Fo", "Fa", "MgSp", "FeSp")
    CIPW_RESULT_NAMES.dropRight(1).map(ex.contains).toArray
  }
  private val cipwHbExcluded: Array[Boolean] = {
    val ex = Set("Di", "Hy", "Ol", "Sp", "Bi", "Hbl", "Act", "Ed")
    CIPWHB_RESULT_NAMES.dropRight(1).map(ex.contains).toArray
  }

  /** Finalize standard CIPW (reference: _cipw_final, _calc.py:1167-1192). */
  private def cipwFinal(y: Y, normsum: Boolean): Array[Double] = {
    y(S.En) = y(S.mgr) * y(S.Hy); y(S.Fs) = y(S.fer) * y(S.Hy)
    y(S.Fo) = y(S.mgr) * y(S.Ol); y(S.Fa) = y(S.fer) * y(S.Ol)
    y(S.MgDi) = y(S.mgr) * y(S.Di); y(S.FeDi) = y(S.fer) * y(S.Di)
    val n = CIPW_RESULT_NAMES.length - 1
    val w = new Array[Double](n)
    var i = 0
    while (i < n) { w(i) = y.arr(i) * cipwMwArr(i); i += 1 }
    w(S.Di) = w(S.MgDi) + w(S.FeDi)
    w(S.Hy) = w(S.En) + w(S.Fs)
    w(S.Ol) = w(S.Fo) + w(S.Fa)
    w(S.Sp) = w(S.MgSp) + w(S.FeSp)
    var total = 0.0
    i = 0; while (i < n) { if (!cipwExcluded(i)) total += w(i); i += 1 }
    if (normsum) {
      i = 0; while (i < n) { w(i) = w(i) * 100 / total; i += 1 }
      total = 0.0
      i = 0; while (i < n) { if (!cipwExcluded(i)) total += w(i); i += 1 }
    }
    val out = new Array[Double](n + 1)
    System.arraycopy(w, 0, out, 0, n); out(n) = total
    out
  }

  /** One row of the standard CIPW norm
    * (reference: _cipw_norm_row, _calc.py:1319-1473). */
  def cipwRow(ox: Array[Double], normsum: Boolean, cancrinite: Boolean,
      spinel: Boolean): Array[Double] = {
    val (y, r) = commonAllocations(ox, cancrinite)
    var si = r(0); var ti = r(1); var al = r(2); var fe3 = r(3)
    var fe2 = r(4); val mg = r(5); var ca = r(6); var na = r(7)

    if (na >= fe3) {
      y(S.Ac) = fe3; na = na - y(S.Ac); fe3 = 0
      y(S.Ns) = na; si = si - 4 * y(S.Ac) - y(S.Ns)
    } else { y(S.Ac) = na; fe3 = fe3 - y(S.Ac); na = 0; si = si - 4 * y(S.Ac) }

    if (al >= ca) {
      y(S.An) = ca; al = al - y(S.An); ca = 0; si = si - 2 * y(S.An)
      y(S.C) = al; al = 0
    } else { y(S.An) = al; ca = ca - y(S.An); si = si - 2 * y(S.An); al = 0 }

    if (ca >= ti) { y(S.Tn) = ti; ca = ca - y(S.Tn); si = si - y(S.Tn); ti = 0 }
    else {
      y(S.Tn) = ca; ti = ti - y(S.Tn); ca = 0
      y(S.Ru) = ti; si = si - y(S.Tn); ti = 0
    }

    if (fe3 >= fe2) { y(S.Mt) = fe2; fe3 = fe3 - y(S.Mt); fe2 = 0; y(S.Hm) = fe3; fe3 = 0 }
    else { y(S.Mt) = fe3; fe2 = fe2 - y(S.Mt); fe3 = 0 }

    if (fe2 + mg == 0.0)
      throw new ArithmeticException("fe2+mg == 0") // reference ZeroDivisionError -> NaN row
    y(S.fer) = fe2 / (fe2 + mg); y(S.mgr) = mg / (fe2 + mg); y(S.femg) = fe2 + mg

    if (spinel && si < 45) {
      if (y(S.femg) <= y(S.C)) {
        y(S.MgSp) = y(S.mgr) * y(S.femg); y(S.FeSp) = y(S.fer) * y(S.femg)
        y(S.C) = y(S.C) - y(S.MgSp) - y(S.FeSp)
        y(S.MgSp) = y(S.mgr) * y(S.C); y(S.FeSp) = y(S.fer) * y(S.C)
        y(S.C) = 0; y(S.femg) = y(S.femg) - y(S.MgSp) - y(S.FeSp)
      }
    }

    if (ca >= y(S.femg)) {
      y(S.Di) = y(S.femg); ca = ca - y(S.femg); y(S.Wo) = ca
      si = si - 2 * y(S.Di) - y(S.Wo); ca = 0
    } else {
      y(S.Di) = ca; y(S.femg) = y(S.femg) - ca; y(S.Hy) = y(S.femg)
      si = si - 2 * y(S.Di) - y(S.Hy)
    }

    if (si >= 0) { y(S.Q) = si; return cipwFinal(y, normsum) }
    y(S.Q) = 0
    var d = math.abs(si)

    if (d <= y(S.Hy) / 2) { y(S.Ol) = d; y(S.Hy) = y(S.Hy) - 2 * d; return cipwFinal(y, normsum) }
    y(S.Ol) = y(S.Hy) / 2; d = d - y(S.Hy) / 2; y(S.Hy) = 0

    if (d <= y(S.Tn)) { y(S.Tn) = y(S.Tn) - d; y(S.Pf) = d; return cipwFinal(y, normsum) }
    y(S.Pf) = y(S.Tn); d = d - y(S.Tn); y(S.Tn) = 0

    if (d <= 4 * y(S.Ab)) { y(S.Ne) = d / 4; y(S.Ab) = y(S.Ab) - d / 4; return cipwFinal(y, normsum) }
    y(S.Ne) = y(S.Ab); d = d - 4 * y(S.Ab); y(S.Ab) = 0

    if (d <= 2 * y(S.Or)) { y(S.Lc) = d / 2; y(S.Or) = y(S.Or) - d / 2; return cipwFinal(y, normsum) }
    y(S.Lc) = y(S.Or); d = d - 2 * y(S.Or); y(S.Or) = 0

    if (d < y(S.Wo) / 2) { y(S.Dcs) = d; y(S.Wo) = y(S.Wo) - 2 * d; return cipwFinal(y, normsum) }
    y(S.Dcs) = y(S.Wo) / 2; d = d - y(S.Wo) / 2; y(S.Wo) = 0

    if (d <= y(S.Di)) {
      y(S.Dcs) = y(S.Dcs) + d / 2; y(S.Ol) = y(S.Ol) + d / 2
      y(S.Di) = y(S.Di) - d; y(S.Kp) = 0
      return cipwFinal(y, normsum)
    }
    y(S.Dcs) = y(S.Dcs) + y(S.Di) / 2; y(S.Ol) = y(S.Ol) + y(S.Di) / 2
    d = d - y(S.Di); y(S.Di) = 0

    y(S.Kp) = d / 2; y(S.Lc) = y(S.Lc) - d / 2
    cipwFinal(y, normsum)
  }

  /** Finalize CIPWhb (reference: _cipwhb_final, _calc.py:1479-1513). */
  private def cipwHbFinal(y: Y, normsum: Boolean): Array[Double] = {
    y(S.En) = y(S.mgr) * y(S.Hy); y(S.Fs) = y(S.fer) * y(S.Hy)
    y(S.Fo) = y(S.mgr) * y(S.Ol); y(S.Fa) = y(S.fer) * y(S.Ol)
    y(S.MgDi) = y(S.mgr) * y(S.Di); y(S.FeDi) = y(S.fer) * y(S.Di)
    val n = CIPWHB_RESULT_NAMES.length - 1
    val w = new Array[Double](n)
    var i = 0
    while (i < n) { w(i) = y.arr(i) * cipwHbMwArr(i); i += 1 }
    w(S.Di) = w(S.MgDi) + w(S.FeDi)
    w(S.Hy) = w(S.En) + w(S.Fs)
    w(S.Ol) = w(S.Fo) + w(S.Fa)
    w(S.Sp) = w(S.MgSp) + w(S.FeSp)
    w(S.Bi) = w(S.MgBi) + w(S.FeBi)
    w(S.Act) = w(S.MgAct) + w(S.FeAct)
    w(S.Ed) = w(S.MgEd) + w(S.FeEd)
    w(S.Hbl) = w(S.Act) + w(S.Ed) + w(S.Ri)
    var total = 0.0
    i = 0; while (i < n) { if (!cipwHbExcluded(i)) total += w(i); i += 1 }
    if (normsum) {
      i = 0; while (i < n) { w(i) = w(i) * 100 / total; i += 1 }
      total = 0.0
      i = 0; while (i < n) { if (!cipwHbExcluded(i)) total += w(i); i += 1 }
    }
    val out = new Array[Double](n + 1)
    System.arraycopy(w, 0, out, 0, n); out(n) = total
    out
  }

  /** One row of the CIPWhb norm (hornblende/biotite recasting;
    * reference: _cipwhb_norm_row, _calc.py:1516-1735). */
  def cipwHbRow(ox: Array[Double], normsum: Boolean, cancrinite: Boolean,
      spinel: Boolean): Array[Double] = {
    val (y, r) = commonAllocations(ox, cancrinite)
    var si = r(0); var al = r(2); var fe3 = r(3)
    var fe2 = r(4); val mg = r(5); var ca = r(6); var na = r(7)

    // Riebeckite
    if (fe3 <= fe2 / 3) {
      if (na <= fe3) {
        y(S.Ri) = na; fe3 = fe3 - y(S.Ri); fe2 = fe2 - 3 * y(S.Ri)
        si = si - 8 * y(S.Ri); na = 0
      } else {
        y(S.Ri) = fe3; na = na - y(S.Ri); fe2 = fe2 - 3 * y(S.Ri)
        si = si - 8 * y(S.Ri); fe3 = 0
      }
    } else {
      if (na <= fe2 / 3) {
        y(S.Ri) = na; fe3 = fe3 - y(S.Ri); fe2 = fe2 - 3 * y(S.Ri)
        si = si - 8 * y(S.Ri); na = 0
      } else {
        y(S.Ri) = fe2 / 3; na = na - y(S.Ri); fe3 = fe3 - y(S.Ri)
        si = si - 8 * y(S.Ri); fe2 = 0
      }
    }

    y(S.Ns) = na; si = si - y(S.Ns)

    if (fe3 >= fe2) { y(S.Mt) = fe2; fe3 = fe3 - y(S.Mt); fe2 = 0; y(S.Hm) = fe3; fe3 = 0 }
    else { y(S.Mt) = fe3; fe2 = fe2 - y(S.Mt); fe3 = 0 }

    if (fe2 + mg == 0.0) throw new ArithmeticException("fe2+mg == 0")
    y(S.fer) = fe2 / (fe2 + mg); y(S.mgr) = mg / (fe2 + mg); y(S.femg) = fe2 + mg

    if (spinel && si < 45) {
      if (y(S.femg) <= y(S.C)) {
        y(S.MgSp) = y(S.mgr) * y(S.femg); y(S.FeSp) = y(S.fer) * y(S.femg)
        y(S.C) = y(S.C) - y(S.MgSp) - y(S.FeSp)
        y(S.MgSp) = y(S.mgr) * y(S.C); y(S.FeSp) = y(S.fer) * y(S.C)
        y(S.C) = 0; y(S.femg) = y(S.femg) - y(S.MgSp) - y(S.FeSp)
      }
    }

    if (al >= ca) {
      y(S.An) = ca; al = al - y(S.An); ca = 0; si = si - 2 * y(S.An)
      y(S.C) = al; al = 0
    } else { y(S.An) = al; ca = ca - y(S.An); si = si - 2 * y(S.An); al = 0 }

    // Biotite
    if (y(S.femg) <= 6 * y(S.Or)) {
      y(S.MgBi) = 1.0 / 6 * y(S.mgr) * y(S.femg)
      y(S.FeBi) = 1.0 / 6 * y(S.fer) * y(S.femg)
      y(S.Or) = y(S.Or) - y(S.MgBi) - y(S.FeBi); y(S.femg) = 0
    } else {
      y(S.MgBi) = y(S.mgr) * y(S.Or); y(S.FeBi) = y(S.fer) * y(S.Or)
      y(S.femg) = y(S.femg) - 6 * (y(S.FeBi) + y(S.MgBi)); y(S.Or) = 0
    }

    // Actinolite
    if (y(S.femg) <= 5.0 / 2 * ca) {
      y(S.MgAct) = 1.0 / 5 * y(S.mgr) * y(S.femg)
      y(S.FeAct) = 1.0 / 5 * y(S.fer) * y(S.femg)
      ca = ca - 2 * (y(S.MgAct) + y(S.FeAct)); y(S.femg) = 0
      y(S.Wo) = ca; si = si - 8 * (y(S.FeAct) + y(S.MgAct)) - y(S.Wo); ca = 0
    } else {
      y(S.MgAct) = 0.5 * y(S.mgr) * ca; y(S.FeAct) = 0.5 * y(S.fer) * ca
      y(S.femg) = y(S.femg) - 5 * (y(S.FeAct) + y(S.MgAct)); ca = 0
      y(S.En) = y(S.mgr) * y(S.femg); y(S.Fs) = y(S.fer) * y(S.femg)
      si = si - 8 * (y(S.MgAct) + y(S.FeAct)) - y(S.En) - y(S.Fs)
    }

    if (si >= 0) { y(S.Q) = si; return cipwHbFinal(y, normsum) }
    y(S.Q) = 0
    var d = math.abs(si)

    // Edenite from actinolite + albite
    if (y(S.MgAct) + y(S.FeAct) >= 2 * y(S.Ab)) {
      if (y(S.Ab) >= d / 8) {
        y(S.MgEd) = y(S.mgr) * d / 8; y(S.FeEd) = y(S.fer) * d / 8
        y(S.MgAct) = y(S.MgAct) - 2 * y(S.MgEd); y(S.FeAct) = y(S.FeAct) - 2 * y(S.FeEd)
        y(S.Ab) = y(S.Ab) - (y(S.MgEd) + y(S.FeEd))
        return cipwHbFinal(y, normsum)
      } else {
        y(S.MgEd) = y(S.mgr) * y(S.Ab); y(S.FeEd) = y(S.fer) * y(S.Ab)
        y(S.MgAct) = y(S.MgAct) - 2 * y(S.MgEd); y(S.FeAct) = y(S.FeAct) - 2 * y(S.FeEd)
        d = d - 8 * (y(S.MgEd) + y(S.FeEd)); y(S.Ab) = 0
      }
    } else {
      if (y(S.MgAct) + y(S.FeAct) >= d / 4) {
        y(S.MgEd) = y(S.mgr) * d / 8; y(S.FeEd) = y(S.fer) * d / 8
        y(S.MgAct) = y(S.MgAct) - 2 * y(S.MgEd); y(S.FeAct) = y(S.FeAct) - 2 * y(S.FeEd)
        y(S.Ab) = y(S.Ab) - (y(S.MgEd) + y(S.FeEd))
        return cipwHbFinal(y, normsum)
      } else {
        y(S.MgEd) = 0.5 * y(S.MgAct); y(S.FeEd) = 0.5 * y(S.FeAct)
        y(S.Ab) = y(S.Ab) - (y(S.MgEd) + y(S.FeEd))
        d = d - 8 * (y(S.MgEd) + y(S.FeEd))
        y(S.MgAct) = 0; y(S.FeAct) = 0
      }
    }

    if (d <= 0.5 * (y(S.En) + y(S.Fs))) {
      y(S.Fo) = y(S.mgr) * d; y(S.Fa) = y(S.fer) * d
      y(S.En) = y(S.En) - 2 * y(S.Fo); y(S.Fs) = y(S.Fs) - 2 * y(S.Fa)
      return cipwHbFinal(y, normsum)
    }
    y(S.Fo) = 0.5 * y(S.En); y(S.Fa) = 0.5 * y(S.Fs)
    d = d - 0.5 * (y(S.En) + y(S.Fs)); y(S.En) = 0; y(S.Fs) = 0

    if (y(S.Fo) + y(S.Fa) <= 0.5 * y(S.C)) {
      if (y(S.Fo) + y(S.Fa) >= d) {
        y(S.MgSp) = y(S.MgSp) + 2 * y(S.mgr) * d; y(S.FeSp) = y(S.FeSp) + 2 * y(S.fer) * d
        y(S.C) = y(S.C) - 2 * d
        y(S.Fo) = y(S.Fo) - y(S.mgr) * d; y(S.Fa) = y(S.Fa) - y(S.fer) * d
        return cipwHbFinal(y, normsum)
      } else {
        y(S.MgSp) = y(S.MgSp) + 2 * y(S.Fo); y(S.FeSp) = y(S.FeSp) + 2 * y(S.Fa)
        y(S.C) = y(S.C) - 2 * (y(S.Fo) + y(S.Fa))
        d = d - (y(S.Fo) + y(S.Fa)); y(S.Fo) = 0; y(S.Fa) = 0
      }
    } else {
      if (y(S.C) >= 2 * d) {
        y(S.MgSp) = y(S.MgSp) + 2 * y(S.mgr) * d; y(S.FeSp) = y(S.FeSp) + 2 * y(S.fer) * d
        y(S.C) = y(S.C) - 2 * d
        y(S.Fo) = y(S.Fo) - y(S.mgr) * d; y(S.Fa) = y(S.Fa) - y(S.fer) * d
        return cipwHbFinal(y, normsum)
      } else {
        y(S.MgSp) = y(S.MgSp) + 2 * y(S.mgr) * y(S.C); y(S.FeSp) = y(S.FeSp) + 2 * y(S.fer) * y(S.C)
        d = d - 0.5 * y(S.C)
        y(S.Fo) = y(S.Fo) - 0.5 * y(S.mgr) * y(S.C); y(S.Fa) = y(S.Fa) - 0.5 * y(S.fer) * y(S.C)
        y(S.C) = 0
      }
    }

    if (d <= 4 * y(S.Ab)) { y(S.Ne) = d / 4; y(S.Ab) = y(S.Ab) - d / 4; return cipwHbFinal(y, normsum) }
    y(S.Ne) = y(S.Ab); d = d - 4 * y(S.Ab); y(S.Ab) = 0
    cipwHbFinal(y, normsum)
  }

  // ---- runner --------------------------------------------------------------

  val CIPW_DROP_COLUMNS: Seq[String] = Seq("En", "Fs", "Fo", "Fa", "MgDi", "FeDi")
  val CIPWHB_DROP_COLUMNS: Seq[String] = CIPW_DROP_COLUMNS ++
    Seq("MgBi", "FeBi", "Act", "FeAct", "MgAct", "Ed", "FeEd", "MgEd")

  private def runNorm(df: DataFrame, carry: Seq[String], names: Seq[String],
      dropCols: Seq[String],
      rowFn: (Array[Double], Boolean, Boolean, Boolean) => Array[Double],
      normsum: Boolean, cancrinite: Boolean, spinel: Boolean,
      completeResults: Boolean): DataFrame = {
    // wt% -> molar proportions; missing CIPW inputs -> 0
    val moleExprs = CIPW_INPUTS.map { c =>
      if (df.columns.contains(c)) (col(c) / lit(Chem.mw(c))).as(c) else lit(0.0).as(c)
    }
    // Fan out the narrow projected input before the compute-heavy row
    // function: a single small parquet file arrives as one task, and the
    // several-hundred-op norm over 600k+ rows must not run on one core.
    // (Driver benches showed ~19s single-task walls that vanish with
    // 32-way parallelism; the one narrow-row shuffle is ~0.2s.)
    val input = graft.util.FanOut(df.select(carry.map(col) ++ moleExprs: _*))
    val inSchema = input.schema
    val outSchema = StructType(
      carry.map(c => inSchema(c)) ++ names.map(n => StructField(n, DoubleType)))
    val nCarry = carry.length
    val nIn = CIPW_INPUTS.length
    // INTERNAL-row map (r17): Dataset.map with Encoders.row paid the
    // generic Row (de)serializer on every row — profiled at ~40% of
    // these queries' task CPU for a ~45-column output, 6x the norm
    // math itself. The row function is index-based either way; reading
    // InternalRows and emitting catalyst values through one
    // UnsafeProjection removes the whole encoder boundary with
    // bit-identical outputs (same doubles, same carry values).
    val carryTypes = carry.indices
      .map(i => inSchema(i).dataType).toArray
    val nOut = names.length
    // G5 pruning folded into the map pass (r18): when pruning is on,
    // per-column max-abs stats are gathered by an ACCUMULATOR inside
    // the same map job that materializes the checkpoint, so the old
    // separate max(abs(col)) aggregate pass over the checkpointed
    // blocks disappears (one job less per pruned-norm query; the
    // max is idempotent under task retry/recompute, so accumulator
    // double-counting cannot change it).
    val valIdx = names.zipWithIndex
      .collect { case (n, i) if !dropCols.contains(n) => i }.toArray
    val pruneAcc =
      if (completeResults) None
      else {
        val acc = new MaxAbsAccumulator(valIdx)
        df.sparkSession.sparkContext.register(
          acc, s"cipw_prune_${names.length}")
        Some(acc)
      }
    val result = org.apache.spark.sql.graftbridge.Bridge
        .mapInternalRows(input, outSchema) { ir =>
      val ox = new Array[Double](nIn)
      var i = 0
      while (i < nIn) {
        ox(i) = if (ir.isNullAt(nCarry + i)) 0.0 else ir.getDouble(nCarry + i)
        i += 1
      }
      val out =
        try rowFn(ox, normsum, cancrinite, spinel)
        catch { case _: Exception => Array.fill(nOut)(Double.NaN) }
      pruneAcc.foreach(_.add(out))
      val vals = new Array[Any](nCarry + nOut)
      i = 0
      while (i < nCarry) {
        vals(i) = if (ir.isNullAt(i)) null else ir.get(i, carryTypes(i))
        i += 1
      }
      i = 0
      while (i < nOut) { vals(nCarry + i) = out(i); i += 1 }
      vals
    }
    if (completeResults) result
    else {
      // G5 zero-column pruning needs one pass to decide the projection and
      // a second to emit rows. localCheckpoint materializes the expensive
      // Dataset.map output once (MEMORY_AND_DISK blocks, lineage
      // truncated); unlike Dataset.persist — which lives in the
      // CacheManager until an explicit unpersist and leaked across
      // repeated pruning calls — the checkpoint blocks are reclaimed by
      // the ContextCleaner as soon as the returned frame is unreferenced.
      // The max-abs statistics arrive for free from the accumulator the
      // checkpoint job filled — no second aggregate pass (r18).
      // For fully streaming one-pass behavior at scale, callers should
      // prefer completeResults=true (deterministic schema, no pruning
      // pass, no executor-loss sensitivity).
      val kept = result.drop(dropCols: _*).localCheckpoint()
      val valCols = kept.columns.filterNot(carry.contains)
      // Same decision the old `max(abs(col))` aggregate made: a column
      // survives when some row is non-zero (NaN != 0.0 keeps NaN
      // columns, exactly as SQL max over NaN did); zero rows -> the
      // accumulator is empty -> no value column survives (the old agg
      // row was all-null then).
      val maxes = pruneAcc.get.value
      val keepCols =
        if (maxes == null) Array.empty[String]
        else valCols.zipWithIndex.collect {
          case (c, i) if maxes(i) != 0.0 => c
        }
      kept.select((carry ++ keepCols).map(col): _*)
        .filter(!isnan(col("Total")))
    }
  }

  /** Per-column max-abs accumulator for [[runNorm]]'s G5 pruning:
    * `add` sees the full names-order output row and folds `abs` of the
    * `valIdx` positions (the post-drop value columns); NaN propagates
    * as SQL max does (NaN compares greater than any double). Max is
    * idempotent and order-independent, so task retries, speculation or
    * block recomputation cannot change the result. `value` is null
    * until at least one row was seen. */
  private[petro] final class MaxAbsAccumulator(valIdx: Array[Int])
      extends org.apache.spark.util.AccumulatorV2[Array[Double], Array[Double]] {
    private var seen = false
    private var maxes = new Array[Double](valIdx.length)
    override def isZero: Boolean = !seen
    override def copy(): MaxAbsAccumulator = {
      val c = new MaxAbsAccumulator(valIdx)
      c.seen = seen
      c.maxes = maxes.clone()
      c
    }
    override def reset(): Unit = {
      seen = false
      java.util.Arrays.fill(maxes, 0.0)
    }
    private def fold(i: Int, a: Double): Unit =
      if (maxes(i).isNaN) ()
      else if (a.isNaN) maxes(i) = Double.NaN
      else if (a > maxes(i)) maxes(i) = a
    override def add(out: Array[Double]): Unit = {
      seen = true
      var i = 0
      while (i < valIdx.length) {
        val v = out(valIdx(i))
        fold(i, if (v.isNaN) v else math.abs(v))
        i += 1
      }
    }
    override def merge(
        o: org.apache.spark.util.AccumulatorV2[Array[Double], Array[Double]])
        : Unit = o match {
      case m: MaxAbsAccumulator =>
        if (m.seen) {
          seen = true
          var i = 0
          while (i < valIdx.length) { fold(i, m.maxes(i)); i += 1 }
        }
      case _ => throw new UnsupportedOperationException(
        s"cannot merge ${o.getClass.getName} into MaxAbsAccumulator")
    }
    override def value: Array[Double] = if (seen) maxes else null
  }

  /** C2: standard GCDkit-faithful CIPW norm. */
  def cipwNorm(df: DataFrame, carry: Seq[String] = Nil, normsum: Boolean = false,
      cancrinite: Boolean = false, spinel: Boolean = false,
      completeResults: Boolean = false): DataFrame =
    runNorm(df, carry, CIPW_RESULT_NAMES, CIPW_DROP_COLUMNS, cipwRow,
      normsum, cancrinite, spinel, completeResults)

  /** C3: CIPW norm with hornblende/biotite recasting. */
  def cipwNormHb(df: DataFrame, carry: Seq[String] = Nil, normsum: Boolean = false,
      cancrinite: Boolean = false, spinel: Boolean = false,
      completeResults: Boolean = false): DataFrame =
    runNorm(df, carry, CIPWHB_RESULT_NAMES, CIPWHB_DROP_COLUMNS, cipwHbRow,
      normsum, cancrinite, spinel, completeResults)

  // ---- C1: simple vectorized norm as a Column cascade ----------------------

  /** Simple CIPW norm (reference: cipw_norm_simple, _calc.py:1855-1993).
    * Branch-free vector arithmetic -> pure Column cascade. Column set is
    * static (zero-column pruning left to the caller / kept off for
    * deterministic schemas at scale). */
  def cipwNormSimple(df: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    def m(c: String): Column =
      if (df.columns.contains(c)) col(c) / lit(Chem.mw(c)) else lit(0.0)
    def clip0(c: Column): Column = greatest(c, lit(0.0))
    val ap = m("P2O5")
    val cao1 = m("CaO") - lit(3.0) * ap
    val il = m("TiO2")
    val feo1 = m("FeO") - il
    val mt = m("Fe2O3")
    val feo2 = feo1 - mt
    val cr = m("Cr2O3")
    val feo3 = feo2 - cr
    val orM = m("K2O")
    val al1 = m("Al2O3") - orM
    val si1 = m("SiO2") - lit(6.0) * orM
    val ab = m("Na2O")
    val al2 = al1 - ab
    val si2 = si1 - lit(6.0) * ab
    val an = least(clip0(al2), cao1)
    val al3 = al2 - an
    val si3 = si2 - lit(2.0) * an
    val cao2 = cao1 - an
    val c = clip0(al3)
    val di = least(clip0(cao2), clip0(m("MgO")))
    val cao3 = cao2 - di
    val mgo1 = m("MgO") - di
    val si4 = si3 - lit(2.0) * di
    val hyMg0 = clip0(mgo1)
    val hyFe0 = clip0(feo3)
    val hyT0 = hyMg0 + hyFe0
    val hyT = least(hyT0, clip0(si4))
    val scale = hyT / when(hyT === 0.0, 1.0).otherwise(hyT)
    val hyMg = hyMg0 * scale
    val hyFe = hyFe0 * scale
    val si5 = si4 - hyMg - hyFe
    val qz = clip0(si5)
    val _ = cao3 // cao fully allocated; kept for structural fidelity
    df.select(carry.map(col) ++ Seq(
      (ap * lit(Chem.mw("Ca3(PO4)2"))).as("Ap"),
      (il * lit(Chem.mw("FeTiO3"))).as("Il"),
      (mt * lit(Chem.mw("Fe3O4"))).as("Mt"),
      (cr * lit(Chem.mw("FeCr2O4"))).as("Crn"),
      (orM * lit(Chem.mw("K2Al2Si6O16"))).as("Or"),
      (ab * lit(Chem.mw("Na2Al2Si6O16"))).as("Ab"),
      (an * lit(Chem.mw("CaAl2Si2O8"))).as("An"),
      (c * lit(Chem.mw("Al2O3"))).as("C"),
      (di * lit(Chem.mw("CaMgSi2O6"))).as("Di"),
      (hyMg * lit(Chem.mw("MgSiO3")) + hyFe * lit(Chem.mw("FeSiO3"))).as("Hy"),
      (qz * lit(Chem.mw("SiO2"))).as("Q")): _*)
  }
}
