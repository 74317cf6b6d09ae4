package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Symmetric int8 embedding quantization — the storage/bandwidth lever for
  * embedding tables at lake scale: an `array<float>` column (4 B/dim) stores
  * as codes in [-127, 127] (1 B/dim in parquet) plus one double scale per
  * vector — 4× smaller at a bounded reconstruction error of `0.5 / scale`
  * per element (half a quantization step). Shuffles over quantized vectors
  * shrink by the same factor, which is where the win actually lands on a
  * cluster: ANN candidate generation and re-ranking can run on codes and
  * only reconstruct floats for the survivors.
  *
  * Engine-independent by construction: rounding is the explicit
  * `floor(x * scale + 0.5)` (no engine's round-half-to-even ambiguity),
  * every intermediate is IEEE double, and all ops are codegen'd built-ins —
  * so the q61 oracle recomputes identical codes in DuckDB from the same
  * parquet floats.
  */
object Quantization {

  /** Per-vector quantization scale: `127 / max(|v_i|)`; a zero (or empty)
    * vector gets scale 1.0 so its codes are all zero rather than a division
    * by zero. */
  def int8Scale(vec: Column): Column = {
    val absmax = array_max(transform(vec, x => abs(x.cast("double"))))
    when(absmax.isNull || absmax === 0.0, lit(1.0)).otherwise(lit(127.0) / absmax)
  }

  /** Quantized codes: `clamp(floor(v_i * scale + 0.5), -127, 127)` as ints.
    * The +0.5/floor form rounds halves toward +∞ identically in every
    * engine; the clamp guards the exact-+127 boundary (|v_i| = max ⇒
    * v_i·scale = ±127 exactly, and floor(127.5) would be 128). */
  def int8Codes(vec: Column, scale: Column): Column =
    transform(vec, x =>
      least(greatest(floor(x.cast("double") * scale + lit(0.5)), lit(-127.0)),
        lit(127.0)).cast("int"))
}
