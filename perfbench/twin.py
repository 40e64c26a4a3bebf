"""DuckDB twin of the reference batch job (clean + the six queries).

Replays Cleaners.pin/geo/user and the six PinterestQueries over the
emulator's raw JSON and compares them with the engine's parquet outputs
under the repository's oracle canonicalization: columns sorted by name,
rows sorted, doubles rounded to 6 places, timestamps to the second.
"""
import datetime
import hashlib

SENTINELS = ["No Title Data Available", "No description available Story format",
             "User Info Error", "N,o, ,T,a,g,s, ,A,v,a,i,l,a,b,l,e", "Image src error."]

CLEAN = """
CREATE MACRO sent(x) AS CASE WHEN x IN ({sentinels}) THEN NULL ELSE x END;
CREATE VIEW pin AS SELECT
  CAST("index" AS INTEGER) AS ind,
  CAST(trunc(TRY_CAST(replace(replace(sent(follower_count), 'k', '000'), 'M', '000000')
       AS DOUBLE)) AS INTEGER) AS follower_count,
  sent(category) AS category
FROM read_json('{raw}/pin/*.json', format = 'newline_delimited', columns = {{
  'index': 'BIGINT', 'follower_count': 'VARCHAR', 'category': 'VARCHAR'}});
CREATE VIEW geo AS SELECT
  CAST(ind AS INTEGER) AS ind, country, CAST("timestamp" AS TIMESTAMP) AS "timestamp"
FROM read_json('{raw}/geo/*.json', format = 'newline_delimited', columns = {{
  'ind': 'BIGINT', 'country': 'VARCHAR', 'timestamp': 'VARCHAR'}});
CREATE VIEW usr AS SELECT
  CAST(ind AS INTEGER) AS ind, first_name || last_name AS user_name,
  CAST(age AS INTEGER) AS age, CAST(date_joined AS TIMESTAMP) AS date_joined
FROM read_json('{raw}/user/*.json', format = 'newline_delimited', columns = {{
  'ind': 'BIGINT', 'first_name': 'VARCHAR', 'last_name': 'VARCHAR', 'age': 'BIGINT',
  'date_joined': 'VARCHAR'}});
"""

ARGMAX = """
SELECT * EXCLUDE (rn) FROM (
  SELECT *, row_number() OVER (PARTITION BY {key}
    ORDER BY {measure} DESC NULLS LAST, {tie} ASC NULLS FIRST) AS rn FROM ({inner}))
WHERE rn = 1"""

Q3A = ARGMAX.format(key="country", measure="follower_count", tie="user_name", inner="""
  SELECT country, user_name, max(follower_count) AS follower_count
  FROM pin JOIN geo USING (ind) JOIN usr USING (ind) GROUP BY country, user_name""")

QUERIES = {
    "q1": ARGMAX.format(key="country", measure="category_count", tie="category", inner="""
      SELECT country, category, count(*) AS category_count
      FROM pin JOIN geo USING (ind) GROUP BY country, category"""),
    "q2": ARGMAX.format(key="post_year", measure="category_count", tie="category", inner="""
      SELECT year("timestamp") AS post_year, category, count(*) AS category_count
      FROM pin JOIN geo USING (ind) GROUP BY post_year, category"""),
    "q3a": f"SELECT country, user_name AS poster_name, follower_count FROM ({Q3A})",
    "q3b": f"""SELECT country, user_name AS poster_name, follower_count FROM ({Q3A})
      ORDER BY follower_count DESC NULLS LAST, country ASC NULLS FIRST LIMIT 1""",
    "q4": ARGMAX.format(key="age_group", measure="category_count", tie="category", inner="""
      SELECT CASE WHEN age < 25 THEN '18-24' WHEN age <= 35 THEN '25-35'
                  WHEN age <= 50 THEN '36-50' ELSE '+50' END AS age_group,
             category, count(*) AS category_count
      FROM pin JOIN usr USING (ind) GROUP BY age_group, category"""),
    "q5": """SELECT year(date_joined) AS join_year, count(*) AS number_users_joined
      FROM usr GROUP BY join_year""",
}


def cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return f"{round(v, 6):.6f}"
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    return str(v)


def canon(columns, rows):
    """Sorted column names and the sorted canonical row strings."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("|".join(cell(r[i]) for i in order) for r in rows)
    return [columns[i] for i in order], lines


def digest(lines):
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def check(raw_dir, out_dir):
    """{query: None if the engine output matches its twin, else a reason}."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(CLEAN.format(raw=raw_dir, sentinels=", ".join(f"'{s}'" for s in SENTINELS)))
    verdicts = {}
    for q, sql in QUERIES.items():
        try:
            want = con.sql(sql)
            got = con.sql(f"SELECT * FROM read_parquet('{out_dir}/{q}/*.parquet')")
            wc, wl = canon(want.columns, want.fetchall())
            gc, gl = canon(got.columns, got.fetchall())
        except Exception as e:  # a missing output or a SQL error fails the query
            verdicts[q] = f"error: {e}"
            continue
        if gc != wc:
            verdicts[q] = f"columns {gc} != {wc}"
        elif gl != wl:
            verdicts[q] = f"rows {len(gl)} vs {len(wl)}, hash {digest(gl)} != {digest(wl)}"
        else:
            verdicts[q] = None
    return verdicts
