package perfbench

import scala.util.Random

/** A workload: fixture registration and input generation in `setup`, then
  * one full pass over its op list per `round`; `rng` (seeded by the run's
  * seed) fixes the op order and every generated input. */
trait Workload {
  def setup(): Unit
  def round(rng: Random): Unit
}
