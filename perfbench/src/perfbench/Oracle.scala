package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Path
import com.fasterxml.jackson.databind.ObjectMapper

/** Runs `oracle.py` (DuckDB, outside Spark) over the generated input. */
object Oracle {
  /** Runs in `work`, so any DuckDB spill stays inside the run's directory. */
  def suite(benchDir: Path, work: Path, input: String, dim: String): Map[Long, BatchExpect] = {
    val p = new ProcessBuilder("python3", benchDir.resolve("oracle.py").toString, input, dim)
      .directory(work.toFile).redirectError(ProcessBuilder.Redirect.INHERIT).start()
    val out = try new String(p.getInputStream.readAllBytes(), UTF_8) finally p.getInputStream.close()
    val rc = p.waitFor()
    if (rc != 0) throw new IllegalStateException(s"oracle.py exited with $rc")
    val root = new ObjectMapper().readTree(out)
    val it = root.fields()
    val b = Map.newBuilder[Long, BatchExpect]
    while (it.hasNext) {
      val e = it.next(); val v = e.getValue
      b += e.getKey.toLong -> BatchExpect(v.get("rows").asLong, v.get("dup").asLong,
        v.get("ref").asLong, v.get("miss_path").asLong, v.get("sha").asLong)
    }
    b.result()
  }
}
