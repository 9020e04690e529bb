"""Independent per-batch counts for the suite workloads, computed with DuckDB.

Usage: python3 oracle.py <input_dir> <dim_dir>

<input_dir> is the generated code table (Parquet, partitioned by batch_id);
<dim_dir> is the (repo, lang) referential dimension. Prints one JSON object:
{"<batch_id>": {"rows", "dup", "ref", "miss_path", "sha"}, ...} where
  dup       = rows - distinct (repo, path, commit) keys,
  ref       = rows whose (repo, lang) is not in the dimension,
  miss_path = rows whose path is NULL or empty,
  sha       = rows whose sha256(content) differs from expected_sha256.
"""
import json
import sys

import duckdb


def quote(s):
    return "'" + s.replace("'", "''") + "'"


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    code, dim = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute("CREATE VIEW code AS SELECT * FROM read_parquet(%s, hive_partitioning = true)"
                % quote(f"{code}/*/*.parquet"))
    con.execute("CREATE VIEW dim AS SELECT * FROM read_parquet(%s)" % quote(f"{dim}/*.parquet"))
    rows = con.execute("""
        SELECT c.batch_id,
               count(*) AS rows,
               count(*) - count(DISTINCT (c.repo, c.path, c."commit")) AS dup,
               count(*) FILTER (WHERE d.repo IS NULL) AS ref,
               count(*) FILTER (WHERE c.path IS NULL OR c.path = '') AS miss_path,
               count(*) FILTER (WHERE sha256(c.content) <> c.expected_sha256) AS sha
        FROM code c
        LEFT JOIN (SELECT DISTINCT repo, lang FROM dim) d
          ON c.repo = d.repo AND c.lang = d.lang
        GROUP BY c.batch_id ORDER BY c.batch_id""").fetchall()
    out = {str(b): {"rows": r, "dup": du, "ref": rf, "miss_path": mp, "sha": sh}
           for b, r, du, rf, mp, sh in rows}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
