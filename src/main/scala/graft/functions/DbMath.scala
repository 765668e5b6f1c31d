package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** dB <-> linear power column library.
  *
  * The reference's demos do all power aggregation in linear space and convert
  * back to dB afterwards (`dBtopow`/`powtodB`/`envtodB`/`dBtoenv` in
  * `/root/reference/demos/3gpp_detect_and_sync.ipynb` cell 0 and
  * `dbsum`/`dbmean` in `demos/colormap_plots.ipynb` cell 2). These helpers are
  * pure Column expressions — codegen'd, no UDFs, safe inside whole-stage
  * codegen at any scale.
  */
object DbMath {
  /** dB -> linear power: 10^(x/10). */
  def dbToPow(c: Column): Column = pow(lit(10.0), c / 10.0)

  /** linear power -> dB: 10*log10(x). */
  def powToDb(c: Column): Column = lit(10.0) * log10(c)

  /** dB -> linear envelope (voltage-like): 10^(x/20). */
  def dbToEnv(c: Column): Column = pow(lit(10.0), c / 20.0)

  /** linear envelope -> dB: 20*log10(x). */
  def envToDb(c: Column): Column = lit(20.0) * log10(c)

  /** Mean in linear power space, expressed back in dB
    * (reference `dbmean`, `colormap_plots.ipynb` cell 2).
    * Aggregate expression: powToDb(avg(dbToPow(x))).
    */
  def dbMean(c: Column): Column = powToDb(avg(dbToPow(c)))

  /** Thermal (kTB) noise floor in dBm/Hz for a temperature in Celsius plus a
    * noise figure in dB (reference `demos/seamf_quickplot.ipynb` cell 5):
    * 10*log10((T_degC + 273.15) * k_B) + 30 + NF.
    */
  def ktbNoiseFloorDbmPerHz(tempDegC: Column, noiseFigureDb: Column): Column =
    lit(10.0) * log10((tempDegC + lit(273.15)) * lit(1.380649e-23)) +
      lit(30.0) + noiseFigureDb

  /** APD x-axis Rayleigh scaling, NaN-safe
    * (reference `demos/seamf_quickplot.ipynb` cell 7):
    * x = x0 - 10*log10(-ln(p)), p in (0, 1).
    */
  def apdRayleighX(x0: Column, p: Column): Column =
    when(p > 0.0 && p < 1.0, x0 - lit(10.0) * log10(-log(p)))
      .otherwise(lit(null).cast("double"))
}
