package graft.streaming

/** T5-T6 source-wrapper policies (SURVEY.md §2.7): rate limiting and
  * retry-with-backoff. These guard the pluggable fetch seams
  * (S1/S6/S7) — they are HARNESS concerns, deliberately kept out of
  * the query plan, exactly as the reference keeps them in its
  * HTTP loop (get_games_from_tv.py:160-177, backfill_user_profiles.py:
  * 112-116, 254-263).
  *
  * The clock is injectable so tests are deterministic (the reference's
  * own tests patch time.time the same way,
  * test_get_games_from_tv.py:53-56).
  */
object SourceGuard {

  /** Token-bucket rate limiter: at most `ratePerSec` acquisitions per
    * second, sleeping as needed (≈ TIME_PER_USER=0.5 → 2 req/s). */
  final class RateLimiter(ratePerSec: Double,
      clock: () => Long = () => System.nanoTime(),
      sleep: Long => Unit = millis => Thread.sleep(millis)) extends Serializable {
    private val intervalNanos = (1e9 / ratePerSec).toLong
    private var nextFree = 0L
    def acquire(): Unit = synchronized {
      val now = clock()
      if (now < nextFree) sleep((nextFree - now) / 1000000L)
      nextFree = math.max(now, nextFree) + intervalNanos
    }
  }

  /** Retry with fixed backoff: `attempts` tries, `pauseMillis` apart
    * (reference: 3 attempts, 5 s — get_games_from_tv.py:160-177).
    * Returns None if every attempt throws. */
  def retry[A](attempts: Int, pauseMillis: Long,
      sleep: Long => Unit = Thread.sleep)(f: => A): Option[A] = {
    var i = 0
    while (i < attempts) {
      try return Some(f)
      catch { case _: Exception => i += 1; if (i < attempts) sleep(pauseMillis) }
    }
    None
  }
}
