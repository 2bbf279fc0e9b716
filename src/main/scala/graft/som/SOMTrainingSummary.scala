package graft.som

import org.apache.spark.sql.DataFrame

/** Training metadata holder (reference `som/SOMTrainingSummary.scala:5-18`):
  * the scored training set plus hyper-params, final cost and per-iteration
  * objective history ("in order to check convergence", reference
  * `README.md:39-46`). `predictions` is lazy — computed at first action.
  * Per-iteration seconds split into the scan job ([[SOM.cellStats]]) and the
  * driver update ([[SOM.smooth]]); every scan evaluates all N·K (point,
  * prototype) distances exactly. `initSeconds` is the time before the first
  * iteration: the features decode, the cache-filling count and `takeSample`
  * (with a warm start, only the decode; the first scan fills the cache).
  * `initSeconds` + Σ`iterationScanSeconds` + Σ`iterationUpdateSeconds` is
  * the fit's wall time minus building the model and this summary. */
class SOMTrainingSummary(
    val predictions: DataFrame,
    val featuresCol: String,
    val predictionCol: String,
    val height: Int,
    val width: Int,
    val maxIter: Int,
    val numIter: Int,
    val cost: Double,
    val objectiveHistory: Array[Double],
    val iterationScanSeconds: Array[Double] = Array.empty,
    val iterationUpdateSeconds: Array[Double] = Array.empty,
    val initSeconds: Double = 0.0)
