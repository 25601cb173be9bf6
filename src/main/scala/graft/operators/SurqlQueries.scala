package graft.operators

import org.apache.spark.sql.functions.{bool_and, bool_or, col, count,
  countDistinct, lit, sum}

import graft.{Q, Tables}
import graft.functions.Exact
import graft.surql.SparkPlanner

/** The engine path: these queries are REAL SurrealQL text, parsed by
  * graft.surql.Parser and lowered to DataFrame plans by [[SparkPlanner]],
  * each paired with its DuckDB oracle, so the correctness gate verifies
  * parse → plan → execute end-to-end (SURVEY §7 steps 2-3).
  *
  * The lowering lands on the plans a DataFrame author would write
  * (pushed-down scans, TakeOrderedAndProject, semi/anti joins), which
  * Catalyst then owns. */
object SurqlQueries {

  private def sq(name: String, oracle: String)(surql: String): Q =
    Q(name, oracle) { (s, d) => SparkPlanner.query(s, d, surql) }

  /** Mutation statements have no ORDER clause; the trailing sort here is
    * presentation order for the driver's row-hash compare only. */
  private def sqOrd(name: String, oracle: String)(surql: String)(sortCols: String*): Q =
    Q(name, oracle) { (s, d) =>
      SparkPlanner.query(s, d, surql).orderBy(sortCols.map(col): _*)
    }

  val tableScan = sq("table_scan",
    "SELECT c_custkey, c_name, c_acctbal FROM customer ORDER BY c_custkey")(
    "SELECT c_custkey, c_name, c_acctbal FROM customer ORDER BY c_custkey")

  // record-id point lookup (`orders:1` → RecordIdScan → pushed key predicate)
  val pointLookup = sq("point_lookup",
    "SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey = 1")(
    "SELECT o_orderkey, o_custkey, o_totalprice FROM orders:1")

  // record-id range scan (`orders:100..200`)
  val rangeScan = sq("range_scan",
    """SELECT o_orderkey, o_totalprice FROM orders
       WHERE o_orderkey >= 100 AND o_orderkey < 200 ORDER BY o_orderkey""")(
    "SELECT o_orderkey, o_totalprice FROM orders:100..200 ORDER BY o_orderkey")

  val countAll = sq("count_all",
    "SELECT COUNT(*) AS cnt FROM lineitem")(
    "SELECT count() AS cnt FROM lineitem GROUP ALL")

  /** IndexCountScan (exec/operators/scan/index_count.rs:55): the
    * unpredicated GROUP ALL count is answered from the warmed COUNT index
    * (graft.operators.CountIndex) — no scan in the plan. */
  val indexCount = sq("index_count",
    "SELECT COUNT(*) AS cnt FROM orders")(
    "SELECT count() AS cnt FROM orders GROUP ALL")

  val exprScalar = sq("expr_scalar",
    """SELECT CAST(3 AS BIGINT) AS a, 'sur' || 'real' AS s,
              CAST(2.0 AS DOUBLE) * CAST(3.5 AS DOUBLE) AS d, TRUE AS b""")(
    "RETURN { a: 3, s: 'sur' + 'real', d: 2.0 * 3.5, b: true }")

  /** r18 sweep semantics as a DRIVER-GATED row: constant expressions whose
    * exact values the DuckDB oracle pins as literals — PHC pbkdf2
    * verification (RFC-derived vector), unpadded/padded/indifferent
    * base64, the strict-> geohash with the (0,0) quirk, arbitrary-
    * precision semver ids, exact-binary ties-to-even math::fixed (int
    * input comes back float), chrono strftime specs, and non-BMP
    * levenshtein + Rust-whitespace sorensen_dice. */
  val fnR18Edges = sq("fn_r18_edges",
    """SELECT TRUE AS pb_ok, FALSE AS pb_no, FALSE AS pb_cost,
              'aGk' AS b64, 'aGk=' AS b64p, 'hello' AS b64d,
              '7zzzzzzzzzzz' AS gh0, 'ezs4' AS gh1,
              CAST(1 AS BIGINT) AS sv,
              CAST(2.67 AS DOUBLE) AS fx, CAST(5.0 AS DOUBLE) AS fxi,
              '2021-03-07 04:05:06 066 09' AS tf,
              CAST(1 AS BIGINT) AS lev, CAST(1.0 AS DOUBLE) AS sd""")(
    """RETURN {
         pb_ok: crypto::pbkdf2::compare('$pbkdf2-sha256$i=4096,l=32$c2FsdA$xeR41ZKIyEGqUw22hFxMjZYok6ABzk4RpJY4c6qYE0o', 'password'),
         pb_no: crypto::pbkdf2::compare('$pbkdf2-sha256$i=4096,l=32$c2FsdA$xeR41ZKIyEGqUw22hFxMjZYok6ABzk4RpJY4c6qYE0o', 'wrong'),
         pb_cost: crypto::pbkdf2::compare('$pbkdf2-sha256$i=9999999,l=32$c2FsdA$xeR41ZKIyEGqUw22hFxMjZYok6ABzk4RpJY4c6qYE0o', 'password'),
         b64: encoding::base64::encode(<bytes>'hi'),
         b64p: encoding::base64::encode(<bytes>'hi', true),
         b64d: <string>encoding::base64::decode('aGVsbG8'),
         gh0: geo::hash::encode((0.0, 0.0)),
         gh1: geo::hash::encode((-5.6, 42.6), 4),
         sv: string::semver::compare('1.0.0-11111111111111111111', '1.0.0-2'),
         fx: math::fixed(2.675, 2), fxi: math::fixed(5, 2),
         tf: time::format(d'2021-03-07T04:05:06Z', '%F %T %j %V'),
         lev: string::distance::levenshtein('𝄞𝄞', '𝄞'),
         sd: string::similarity::sorensen_dice('ab cd', 'abcd')
       }""")

  /** r19: the real password-hash algorithms under the driver gate, pinned
    * by FIXED externally-generated hashes — the common migration case the
    * old stand-ins failed. bcrypt: a published jBCrypt/OpenBSD MCF vector
    * (accept / wrong-pass / cost-17 > 12+4 reject). scrypt: the PHC
    * encoding of RFC 7914 §12 vector 3 (ln=14 within bounds; the ln=20
    * relabel breaches log_n ≤ 17+2). argon2id: the phc-winner-argon2
    * test.c vector (t=9 relabel breaches t ≤ 2×4). Both *_rt keys
    * round-trip a fresh generate at the reference's default params
    * ($2b$12, $argon2id$v=19$m=19456,t=2,p=1).
    *
    * EXPECTED BENCH FLOOR ~2.5 s solo, flat across reps: this row computes
    * ~11 real KDFs (bcrypt cost-12 EksBlowfish, scrypt ln=14 ROMix,
    * argon2id 19 MiB × 2 incl. a fresh generate) — intentional memory/CPU-
    * hard work, not a plan bug. If it grows past ~3.5 s, split per scheme
    * so a single-KDF regression is visible. */
  val fnR19Crypto = sq("fn_r19_crypto",
    """SELECT TRUE AS bc_ok, FALSE AS bc_no, FALSE AS bc_cost, TRUE AS bc_rt,
              TRUE AS sc_ok, FALSE AS sc_no, FALSE AS sc_cost,
              TRUE AS ar_ok, FALSE AS ar_no, FALSE AS ar_cost, TRUE AS ar_rt""")(
    """RETURN {
         bc_ok: crypto::bcrypt::compare('$2a$06$m0CrhHm10qJ3lXRY.5zDGO3rS2KdeeWLuGmsfGlMfOxih58VYVfxe', 'a'),
         bc_no: crypto::bcrypt::compare('$2a$06$m0CrhHm10qJ3lXRY.5zDGO3rS2KdeeWLuGmsfGlMfOxih58VYVfxe', 'b'),
         bc_cost: crypto::bcrypt::compare('$2a$17$m0CrhHm10qJ3lXRY.5zDGO3rS2KdeeWLuGmsfGlMfOxih58VYVfxe', 'a'),
         bc_rt: crypto::bcrypt::compare(crypto::bcrypt::generate('hunter2'), 'hunter2'),
         sc_ok: crypto::scrypt::compare('$scrypt$ln=14,r=8,p=1$U29kaXVtQ2hsb3JpZGU$cCO9yzr9c0hGHAbNgf046/2o+7qQT44+qbVD9lRdofLVQylVYT8Pz2LUlwUkKpr55h6F3A1lHkDfzwF7RVdYhw', 'pleaseletmein'),
         sc_no: crypto::scrypt::compare('$scrypt$ln=14,r=8,p=1$U29kaXVtQ2hsb3JpZGU$cCO9yzr9c0hGHAbNgf046/2o+7qQT44+qbVD9lRdofLVQylVYT8Pz2LUlwUkKpr55h6F3A1lHkDfzwF7RVdYhw', 'pleaseletmeout'),
         sc_cost: crypto::scrypt::compare('$scrypt$ln=20,r=8,p=1$U29kaXVtQ2hsb3JpZGU$cCO9yzr9c0hGHAbNgf046/2o+7qQT44+qbVD9lRdofLVQylVYT8Pz2LUlwUkKpr55h6F3A1lHkDfzwF7RVdYhw', 'pleaseletmein'),
         ar_ok: crypto::argon2::compare('$argon2id$v=19$m=65536,t=2,p=1$c29tZXNhbHQ$CTFhFdXPJO1aFaMaO6Mm5c8y7cJHAph8ArZWb2GRPPc', 'password'),
         ar_no: crypto::argon2::compare('$argon2id$v=19$m=65536,t=2,p=1$c29tZXNhbHQ$CTFhFdXPJO1aFaMaO6Mm5c8y7cJHAph8ArZWb2GRPPc', 'Password'),
         ar_cost: crypto::argon2::compare('$argon2id$v=19$m=65536,t=9,p=1$c29tZXNhbHQ$CTFhFdXPJO1aFaMaO6Mm5c8y7cJHAph8ArZWb2GRPPc', 'password'),
         ar_rt: crypto::argon2::compare(crypto::argon2::generate('hunter2'), 'hunter2')
       }""")

  /** r19 sweep semantics under the driver gate: JSON-Patch dot-paths,
    * inc-style array adds, the field-parts-on-arrays quirk, CBOR compact
    * durations + tagged sets (byte-exact via base64), to_sql-rendered
    * from_entries keys, and the i64→u64 duration wrap. */
  val fnR19Edges = sq("fn_r19_edges",
    """SELECT CAST(2 AS BIGINT) AS p_dot, CAST(3 AS BIGINT) AS p_concat,
              CAST(9 AS BIGINT) AS p_fld0,
              'zoEYWg' AS cb_dur, '1m30s' AS cb_rt, 'set' AS cb_set,
              'd''2021-03-07T04:05:06Z''' AS fe_key,
              '584942417y18w3d14h25m51s615ms' AS du_wrap""")(
    """RETURN {
         p_dot: value::patch({a:{b:1}}, [{op:'replace', path:'a.b', value:2}]).a.b,
         p_concat: array::len(value::patch({l:[1]}, [{op:'add', path:'/l', value:[2,3]}]).l),
         p_fld0: value::patch({l:[{x:1}]}, [{op:'replace', path:'/l/0', value: 9}]).l[0]['0'],
         cb_dur: <string>encoding::base64::encode(encoding::cbor::encode(1m30s)),
         cb_rt: <string>encoding::cbor::decode(encoding::base64::decode('zoEYWg')),
         cb_set: type::of(encoding::cbor::decode(encoding::cbor::encode(type::set([1,2,2])))),
         fe_key: object::keys(object::from_entries([[d'2021-03-07T04:05:06Z', 1]]))[0],
         du_wrap: <string>duration::from_millis(-1)
       }""")

  /** r19 sweeps, second instalment: math quadrant/typing/percentile
    * semantics, the asymmetric logical tails, decimal mean promotion,
    * and ULID/UUID timestamp extraction — all pinned as DuckDB
    * literals. */
  val fnR19Edges2 = sq("fn_r19_edges2",
    """SELECT CAST(2.356194490192345 AS DOUBLE) AS acot_neg,
              CAST(30.0 AS DOUBLE) AS lerpang,
              CAST(30 AS BIGINT) AS nrank, CAST(8 AS BIGINT) AS spread_i,
              CAST(5.0 AS DOUBLE) AS clamp_f,
              '2016-07-30T23:54:10.259Z' AS ulid_ts,
              '2022-02-22T19:22:22Z' AS uuid_ts,
              'false,7' AS lor_tail, 'NULL,NULL' AS land_tail,
              '1.25' AS mean_dec""")(
    """RETURN {
         acot_neg: math::acot(-1),
         lerpang: math::lerpangle(10, 350, 1.0),
         nrank: math::nearestrank([10, 20, 30, 40], 50),
         spread_i: math::spread([1, 9]),
         clamp_f: math::clamp(5, 1.0, 10.0),
         ulid_ts: <string>time::from_ulid('01ARZ3NDEKTSV4RRFFQ69G5FAV'),
         uuid_ts: <string>time::from_uuid(<uuid>'017f22e2-79b0-7cc3-98c4-dc0c0c07398f'),
         lor_tail: array::join(array::logical_or([], [false, 7]), ','),
         land_tail: array::join(array::logical_and([], [false, 7]), ','),
         mean_dec: <string>math::mean([1, 1.5dec])
       }""")

  /** r20: finite floats render with the reference's `f` suffix wherever a
    * value becomes a raw string — `<string>` casts, array::join,
    * string::concat/join, type::string (val/mod.rs:225 to_raw_string →
    * val/number.rs ToSql "{v}f"; convert/cast.rs:361) — while decimals are
    * PLAIN in casts (cast.rs:360) but `dec`-suffixed in raw renders
    * (types/src/sql.rs:238). The c_* columns fold through the interpreter;
    * the r_* columns stay row-dependent, so they pin the Spark-path
    * codegen kernel (graft.functions.RawStr). */
  val fnR20FloatFmt = sq("fn_r20_floatfmt",
    """SELECT o_orderkey,
              '2f' AS c_int, '2.5f' AS c_frac, '-0.5f' AS c_neg,
              '1000000000000000000000f' AS c_big, '0.0000001f' AS c_small,
              '1.5' AS c_dec, '2f,3f' AS c_join, '1.5dec|1' AS c_jdec,
              'v=0.1f' AS c_cat, '2.5f-x' AS c_sj,
              '2.5f' AS r_cast, '2f,3f' AS r_join, 'p1.5f' AS r_cat,
              '0.5f' AS r_ts
       FROM orders WHERE o_orderkey >= 1 AND o_orderkey <= 3
       ORDER BY o_orderkey""")(
    """SELECT o_orderkey,
              <string>2.0 AS c_int, <string>2.5 AS c_frac,
              <string>(-0.5) AS c_neg,
              <string>1000000000000000000000.0 AS c_big,
              <string>0.0000001 AS c_small,
              <string>1.5dec AS c_dec,
              array::join([2.0, 3.0], ',') AS c_join,
              array::join([1.5dec, 1], '|') AS c_jdec,
              string::concat('v=', 0.1) AS c_cat,
              string::join('-', 2.5, 'x') AS c_sj,
              <string>(o_totalprice * 0 + 2.5) AS r_cast,
              array::join([o_totalprice * 0 + 2.0, 3.0], ',') AS r_join,
              string::concat('p', o_totalprice * 0 + 1.5) AS r_cat,
              type::string(o_totalprice * 0 + 0.5) AS r_ts
       FROM orders:1..4 ORDER BY o_orderkey""")

  /** r20: parse::url/email through the WHATWG + addr kernels
    * (graft.functions.UrlParse; reference fnc/parse.rs → url crate 2.5 /
    * addr 0.15). Constant columns fold through the interpreter; the h_row/
    * p_row columns are row-dependent and pin the graft_url_part codegen
    * path. Pinned forms: case/IDNA lowering, IPv4 normalization with
    * domain() None, default-port restore, >65535 failing the whole parse,
    * dot-segment paths, empty-query Some(""), fragment %20-encoding,
    * IDN email hosts as written, RFC 5321 IPv6 literals in Rust Display
    * form, invalid emails NONE. */
  val fnR20Parse = sq("fn_r20_parse",
    """SELECT o_orderkey,
              'example.com' AS h_case, 'xn--bcher-kva.de' AS h_idna,
              '127.0.0.1' AS h_ip, CAST(NULL AS VARCHAR) AS d_ip,
              80 AS p_dflt, 8080 AS p_expl, CAST(NULL AS BIGINT) AS p_bad,
              '/c/d' AS pth, '' AS q_empty, 'a%20b' AS frag,
              'john.doe' AS e_user, 'bücher.de' AS e_idn, '::1' AS e_ip,
              CAST(NULL AS VARCHAR) AS e_bad,
              'h' || CAST(o_orderkey AS VARCHAR) || '.com' AS h_row,
              CAST(8080 + o_orderkey AS BIGINT) AS p_row
       FROM orders WHERE o_orderkey >= 1 AND o_orderkey <= 3
       ORDER BY o_orderkey""")(
    """SELECT o_orderkey,
              parse::url::host('HTTP://EXAMPLE.com/x') AS h_case,
              parse::url::host('http://bücher.de/') AS h_idna,
              parse::url::host('http://0x7f.1/') AS h_ip,
              parse::url::domain('http://0x7f.1/') AS d_ip,
              parse::url::port('http://a.com/') AS p_dflt,
              parse::url::port('http://a.com:8080/') AS p_expl,
              parse::url::port('http://a.com:99999/') AS p_bad,
              parse::url::path('http://a/b/../c/./d') AS pth,
              parse::url::query('http://a/?') AS q_empty,
              parse::url::fragment('http://a/p#a b') AS frag,
              parse::email::user('john.doe@example.com') AS e_user,
              parse::email::host('u@bücher.de') AS e_idn,
              parse::email::host('u@[0:0:0:0:0:0:0:1]') AS e_ip,
              parse::email::host('not an email') AS e_bad,
              parse::url::host(string::concat('HTTP://H', o_orderkey, '.com/x')) AS h_row,
              parse::url::port(string::concat('ws://h:808', o_orderkey, '/p')) AS p_row
       FROM orders:1..4 ORDER BY o_orderkey""")

  /** r20: the cast-table re-audit + slug/words under the driver gate
    * (convert/cast.rs arm-by-arm — see docs/SWEEPS_r20.md; error arms are
    * pinned by CastSweepSpec/differential-cast since a failing cast fails
    * the whole row). k_row pins the strict graft_cast_int kernel on the
    * row-dependent path. */
  val fnR20Cast = sq("fn_r20_cast",
    """SELECT o_orderkey,
              2 AS i_intf, 9223372036854775807 AS i_sat, 42 AS i_str,
              CAST('Infinity' AS DOUBLE) AS f_inf, '1000.5' AS d_us,
              '936da01f-9abd-4d9d-80c7-02af85c822a8' AS u_simple,
              'A' AS b_trunc, '1,2,3' AS r_arr, '1h30m' AS dur,
              'creme_brulee' AS slug, 'x|y' AS words,
              CAST(2 AS BIGINT) AS k_row
       FROM orders WHERE o_orderkey >= 1 AND o_orderkey <= 3
       ORDER BY o_orderkey""")(
    """SELECT o_orderkey,
              <int>2.0 AS i_intf, <int>1e300 AS i_sat, <int>'42' AS i_str,
              <float>'inf' AS f_inf, <string><decimal>'1_000.5' AS d_us,
              <string><uuid>'936DA01F9ABD4d9d80C702AF85C822A8' AS u_simple,
              <string><bytes>[321] AS b_trunc,
              array::join(<array>(<range>[1, 4]), ',') AS r_arr,
              <string><duration>'1h30m' AS dur,
              string::slug('Crème_Brûlée') AS slug,
              array::join(string::words(' x　y '), '|') AS words,
              <int>(o_totalprice * 0 + 2.0) AS k_row
       FROM orders:1..4 ORDER BY o_orderkey""")

  val filterWhere = sq("filter_where",
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem
       WHERE l_quantity > 45 AND l_discount >= 0.05 AND l_discount <= 0.07
         AND l_returnflag = 'R'
       ORDER BY l_orderkey, l_linenumber""")(
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem
       WHERE l_quantity > 45 AND l_discount >= 0.05 AND l_discount <= 0.07
         AND l_returnflag = 'R'
       ORDER BY l_orderkey, l_linenumber""")

  val projectExpr = sq("project_expr",
    """SELECT o_orderkey,
              o_totalprice * CAST(0.9 AS DOUBLE) AS discounted,
              UPPER(o_orderpriority) AS prio,
              o_orderstatus || '-' || o_orderpriority AS tag
       FROM orders ORDER BY o_orderkey""")(
    """SELECT o_orderkey,
              o_totalprice * 0.9 AS discounted,
              string::uppercase(o_orderpriority) AS prio,
              string::concat(o_orderstatus, '-', o_orderpriority) AS tag
       FROM orders ORDER BY o_orderkey""")

  val projectValue = sq("project_value",
    "SELECT c_name AS value FROM customer ORDER BY value")(
    "SELECT c_name AS value FROM customer ORDER BY value")

  val unionOrFilter = sq("union_or_filter",
    """SELECT p_partkey, p_brand, p_size FROM part
       WHERE p_size = 1 OR p_brand = 'Brand#33' ORDER BY p_partkey""")(
    """SELECT p_partkey, p_brand, p_size FROM part
       WHERE p_size = 1 OR p_brand = 'Brand#33' ORDER BY p_partkey""")

  /** SPLIT runs on DOCUMENT fields before projection (planner/select.rs
    * pipeline order), so the array to split must be a field of the source —
    * here the inner SELECT's output document. */
  val splitExplode = sq("split_explode",
    """SELECT p_partkey, UNNEST(string_split(p_type, ' ')) AS word
       FROM part ORDER BY p_partkey, word""")(
    """SELECT p_partkey, word
       FROM (SELECT p_partkey, string::split(p_type, ' ') AS word FROM part)
       SPLIT word ORDER BY p_partkey, word""")

  val sortMulti = sq("sort_multi",
    """SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
       ORDER BY o_orderpriority ASC, o_totalprice DESC, o_orderkey ASC LIMIT 100""")(
    """SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
       ORDER BY o_orderpriority ASC, o_totalprice DESC, o_orderkey ASC LIMIT 100""")

  val topK = sq("topk",
    """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
       ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 10""")(
    """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
       ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC LIMIT 10""")

  val limitStart = sq("limit_start",
    """SELECT o_orderkey, o_totalprice FROM orders
       ORDER BY o_orderkey LIMIT 20 OFFSET 10""")(
    "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_orderkey LIMIT 20 START 10")

  val onlyOne = sq("only_one",
    "SELECT c_custkey, c_name FROM customer WHERE c_custkey = 7")(
    "SELECT c_custkey, c_name FROM ONLY customer WHERE c_custkey = 7")

  /** `CountField` — conditional count (aggregates/count.rs:83) over the
    * events stream table. Every `props` is `{"k": N}`, so its digits are k. */
  val fnConditional = sq("fn_conditional",
    s"""SELECT event_type,
               COUNT(*) AS cnt,
               CAST(SUM(CASE WHEN value > 50.0 THEN 1 ELSE 0 END) AS BIGINT) AS cnt_big,
               ${Exact.sqlSum("value")} AS sum_value,
               CAST(SUM(CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k
        FROM events GROUP BY event_type ORDER BY event_type""")(
    """SELECT event_type, count() AS cnt, count(value > 50.0) AS cnt_big,
              math::sum(value) AS sum_value,
              math::sum(<int>string::replace(props, /[^0-9]/, '')) AS sum_k
       FROM events GROUP BY event_type ORDER BY event_type""")

  val aggGroup = sq("agg_group",
    s"""SELECT l_returnflag, l_linestatus,
               ${Exact.sqlSum("l_quantity")} AS sum_qty,
               ${Exact.sqlSum("l_extendedprice")} AS sum_base,
               ${Exact.sqlSum("l_extendedprice * (1.0 - l_discount)")} AS sum_disc,
               ${Exact.sqlAvg("l_quantity")} AS avg_qty,
               COUNT(*) AS cnt
        FROM lineitem GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus""")(
    """SELECT l_returnflag, l_linestatus,
              math::sum(l_quantity) AS sum_qty,
              math::sum(l_extendedprice) AS sum_base,
              math::sum(l_extendedprice * (1.0 - l_discount)) AS sum_disc,
              math::mean(l_quantity) AS avg_qty,
              count() AS cnt
       FROM lineitem GROUP BY l_returnflag, l_linestatus
       ORDER BY l_returnflag, l_linestatus""")

  val aggGlobal = sq("agg_global",
    s"""SELECT COUNT(*) AS cnt,
               ${Exact.sqlSum("l_quantity")} AS sum_qty,
               ${Exact.sqlAvg("l_extendedprice")} AS avg_price,
               CAST(MIN(l_shipdate) AS DATE) AS min_ship,
               CAST(MAX(l_shipdate) AS DATE) AS max_ship
        FROM lineitem""")(
    """SELECT count() AS cnt,
              math::sum(l_quantity) AS sum_qty,
              math::mean(l_extendedprice) AS avg_price,
              time::min(l_shipdate) AS min_ship,
              time::max(l_shipdate) AS max_ship
       FROM lineitem GROUP ALL""")

  val distinctScan = sq("distinct_scan",
    """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
       ORDER BY l_returnflag, l_linestatus""")(
    """SELECT l_returnflag, l_linestatus FROM lineitem
       GROUP BY l_returnflag, l_linestatus
       ORDER BY l_returnflag, l_linestatus""")

  val subqueryIn = sq("subquery_in",
    """SELECT c_custkey, c_name FROM customer
       WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000.0)
       ORDER BY c_custkey""")(
    """SELECT c_custkey, c_name FROM customer
       WHERE c_custkey INSIDE (SELECT o_custkey FROM orders WHERE o_totalprice > 300000.0)
       ORDER BY c_custkey""")

  val subqueryNotIn = sq("subquery_not_in",
    """SELECT c_custkey, c_name FROM customer
       WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 250000.0)
       ORDER BY c_custkey""")(
    """SELECT c_custkey, c_name FROM customer
       WHERE c_custkey NOT INSIDE (SELECT o_custkey FROM orders WHERE o_totalprice > 250000.0)
       ORDER BY c_custkey""")

  val fnMath = sq("fn_math",
    """SELECT c_custkey,
              abs(c_acctbal) AS ab,
              ceil(c_acctbal) AS ce,
              floor(c_acctbal) AS fl,
              round(c_acctbal, 2) AS rnd,
              sqrt(abs(c_acctbal)) AS sq,
              CAST(CASE WHEN signbit(c_acctbal) THEN -1.0 ELSE 1.0 END AS DOUBLE) AS sg,
              greatest(c_acctbal, CAST(0.0 AS DOUBLE)) AS hi,
              least(c_acctbal, CAST(1000.0 AS DOUBLE)) AS lo,
              c_acctbal * c_acctbal AS sqr,
              CAST(c_custkey % 7 AS BIGINT) AS md
       FROM customer ORDER BY c_custkey""")(
    """SELECT c_custkey,
              math::abs(c_acctbal) AS ab,
              math::ceil(c_acctbal) AS ce,
              math::floor(c_acctbal) AS fl,
              math::fixed(c_acctbal, 2) AS rnd,
              math::sqrt(math::abs(c_acctbal)) AS sq,
              math::sign(c_acctbal) * 1.0 AS sg,
              math::max([c_acctbal, 0.0]) AS hi,
              math::min([c_acctbal, 1000.0]) AS lo,
              c_acctbal * c_acctbal AS sqr,
              c_custkey % 7 AS md
       FROM customer ORDER BY c_custkey""")

  val fnTime = sq("fn_time",
    """SELECT o_orderkey,
              CAST(year(o_orderdate) AS BIGINT) AS y,
              CAST(month(o_orderdate) AS BIGINT) AS m,
              CAST(day(o_orderdate) AS BIGINT) AS dd,
              CAST(quarter(o_orderdate) AS BIGINT) AS q,
              CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
              CAST(epoch(o_orderdate) AS BIGINT) AS unix_s
       FROM orders ORDER BY o_orderkey""")(
    """SELECT o_orderkey,
              time::year(o_orderdate) AS y,
              time::month(o_orderdate) AS m,
              time::day(o_orderdate) AS dd,
              <int>((time::month(o_orderdate) + 2) / 3) AS q,
              time::group(o_orderdate, 'month') AS mon,
              time::unix(o_orderdate) AS unix_s
       FROM orders ORDER BY o_orderkey""")

  // ---- join-shaped operators via record links (GraphEdgeScan / Fetch /
  // ReferenceScan lowerings — link derefs plan as equi-joins, broadcast for
  // dimension tables) --------------------------------------------------------

  /** 1-hop graph traversal: orders of BUILDING-segment customers. The link
    * deref `o_custkey.c_mktsegment` lowers to a broadcast equi-join. */
  val graphOneHop = sq("graph_one_hop",
    """SELECT o.o_orderkey FROM orders o
       JOIN customer c ON o.o_custkey = c.c_custkey
       WHERE c.c_mktsegment = 'BUILDING'
       ORDER BY o.o_orderkey""")(
    """SELECT o_orderkey FROM orders
       WHERE o_custkey.c_mktsegment = 'BUILDING' ORDER BY o_orderkey""")

  /** 2-hop traversal: parts reached from AUTOMOBILE customers — a two-level
    * link chain (lineitem → orders → customer), two joins + distinct. */
  val graphTwoHop = sq("graph_two_hop",
    """SELECT DISTINCT l.l_partkey FROM customer c
       JOIN orders o ON o.o_custkey = c.c_custkey
       JOIN lineitem l ON l.l_orderkey = o.o_orderkey
       WHERE c.c_mktsegment = 'AUTOMOBILE'
       ORDER BY l_partkey""")(
    """SELECT l_partkey FROM lineitem
       WHERE l_orderkey.o_custkey.c_mktsegment = 'AUTOMOBILE'
       GROUP BY l_partkey ORDER BY l_partkey""")

  /** ReferenceScan: rows referencing parts of size 50 (reverse lookup via
    * the l_partkey link). */
  val referenceScan = sq("reference_scan",
    """SELECT l.l_orderkey, l.l_linenumber, p.p_partkey FROM part p
       JOIN lineitem l ON l.l_partkey = p.p_partkey
       WHERE p.p_size = 50
       ORDER BY p_partkey, l_orderkey, l_linenumber""")(
    """SELECT l_orderkey, l_linenumber, l_partkey AS p_partkey FROM lineitem
       WHERE l_partkey.p_size = 50
       ORDER BY p_partkey, l_orderkey, l_linenumber""")

  /** Fetch: dereference the customer link into projected fields — left outer
    * join + field embed, broadcast on the dimension side. */
  val fetchJoin = sq("fetch_join",
    """SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_mktsegment
       FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
       ORDER BY o.o_orderkey""")(
    """SELECT o_orderkey, o_totalprice,
              o_custkey.c_name AS c_name, o_custkey.c_mktsegment AS c_mktsegment
       FROM orders ORDER BY o_orderkey""")

  /** Union: multi-source FROM is a bag concat of subquery sources. */
  val unionFrom = sq("union_from",
    """SELECT c_name AS name, 'customer' AS src FROM customer
       UNION ALL
       SELECT s_name AS name, 'supplier' AS src FROM supplier
       ORDER BY src, name""")(
    """SELECT name, src FROM
         (SELECT c_name AS name, 'customer' AS src FROM customer),
         (SELECT s_name AS name, 'supplier' AS src FROM supplier)
       ORDER BY src, name""")

  // ---- scalar function surfaces as parsed SurrealQL ----------------------

  val fnString = sq("fn_string",
    """SELECT p_partkey,
              lower(p_name) AS lo, upper(p_brand) AS up,
              CAST(length(p_name) AS BIGINT) AS len,
              substring(p_type, 1, 5) AS head,
              replace(p_type, ' ', '_') AS repl,
              trim(p_name) AS trimmed,
              reverse(p_brand) AS rev,
              p_brand || '/' || p_type AS joined,
              CAST(levenshtein(p_brand, 'Brand#13') AS BIGINT) AS lev,
              starts_with(p_type, 'STANDARD') AS sw
       FROM part ORDER BY p_partkey""")(
    """SELECT p_partkey,
              string::lowercase(p_name) AS lo, string::uppercase(p_brand) AS up,
              string::len(p_name) AS len,
              string::slice(p_type, 0, 5) AS head,
              string::replace(p_type, ' ', '_') AS repl,
              string::trim(p_name) AS trimmed,
              string::reverse(p_brand) AS rev,
              string::concat(p_brand, '/', p_type) AS joined,
              string::distance::levenshtein(p_brand, 'Brand#13') AS lev,
              string::starts_with(p_type, 'STANDARD') AS sw
       FROM part ORDER BY p_partkey""")

  val fnArray = sq("fn_array",
    """SELECT p_partkey,
              CAST(len(string_split(p_type, ' ')) AS BIGINT) AS n,
              array_to_string(list_sort(string_split(p_type, ' ')), '|') AS sorted,
              array_to_string(list_sort(list_distinct(string_split(p_name, ' '))), '|') AS uniq,
              list_contains(string_split(p_type, ' '), 'BRUSHED') AS has,
              list_sort(string_split(p_type, ' '))[1] AS first_w,
              array_to_string(list_sort(string_split(p_type, ' ')), '-') AS joined,
              array_to_string(list_sort(string_split(p_type, ' '))[1:2], '|') AS sliced
       FROM part ORDER BY p_partkey""")(
    """SELECT p_partkey,
              array::len(string::split(p_type, ' ')) AS n,
              array::join(array::sort(string::split(p_type, ' ')), '|') AS sorted,
              array::join(array::sort(array::distinct(string::split(p_name, ' '))), '|') AS uniq,
              array::includes(string::split(p_type, ' '), 'BRUSHED') AS has,
              array::at(array::sort(string::split(p_type, ' ')), 0) AS first_w,
              array::join(array::sort(string::split(p_type, ' ')), '-') AS joined,
              array::join(array::slice(array::sort(string::split(p_type, ' ')), 0, 2), '|') AS sliced
       FROM part ORDER BY p_partkey""")

  val fnCast = sq("fn_cast",
    """SELECT c_custkey,
              CAST(substring(c_name, 10, 9) AS BIGINT) AS parsed,
              CAST(c_custkey AS VARCHAR) AS as_str,
              CAST(c_acctbal AS VARCHAR) IS NOT NULL AS ok,
              CAST(floor(c_acctbal) AS BIGINT) AS fl
       FROM customer ORDER BY c_custkey""")(
    """SELECT c_custkey,
              <int>string::slice(c_name, 9, 18) AS parsed,
              <string>c_custkey AS as_str,
              <string>c_acctbal != NONE AS ok,
              <int>math::floor(c_acctbal) AS fl
       FROM customer ORDER BY c_custkey""")

  val fnAggStats = sq("fn_agg_stats",
    s"""SELECT l_returnflag,
               ${Exact.sqlStddev("l_quantity")} AS sd,
               ${Exact.sqlVarSamp("l_quantity")} AS vr,
               median(l_quantity) AS med,
               ${Exact.sqlAvg("l_quantity")} AS mean,
               MIN(l_quantity) AS mn, MAX(l_quantity) AS mx
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")(
    """SELECT l_returnflag,
              math::stddev(l_quantity) AS sd,
              math::variance(l_quantity) AS vr,
              math::median(l_quantity) AS med,
              math::mean(l_quantity) AS mean,
              math::min(l_quantity) AS mn, math::max(l_quantity) AS mx
       FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")

  val fnCrypto = sq("fn_crypto",
    """SELECT doc_id, md5(text) AS h_md5, sha256(text) AS h_sha256,
              substring(md5(source), 1, 4) AS src_bucket
       FROM documents ORDER BY doc_id""")(
    """SELECT doc_id,
              crypto::md5(text) AS h_md5,
              crypto::sha256(text) AS h_sha256,
              string::slice(crypto::md5(source), 0, 4) AS src_bucket
       FROM documents ORDER BY doc_id""")

  // ---- graph-arrow traversal (GraphEdgeScan from real `->` syntax) --------
  // The `supplies` relation table is the edge set `mut_relate` reads (one
  // edge per distinct supplier→part shipment pair); hops lower to aggregated
  // equi-joins anchored on the record key — see SparkPlanner.graphLookup.

  // The hop results are id/field ARRAYS; the driver's comparator cannot hash
  // list columns (same pandas limitation as agg_array_collect), so each
  // projection serializes the array with array::join — the arrow lowering
  // itself (graphLookup's aggregated equi-join) stays fully under test.

  /** `->edge->target`: parts each supplier supplies, as an id array. */
  val graphArrow = sq("graph_arrow",
    """SELECT s_suppkey,
              array_to_string((SELECT list(DISTINCT l_partkey ORDER BY l_partkey)
               FROM lineitem WHERE l_suppkey = s_suppkey), ',') AS parts
       FROM supplier ORDER BY s_suppkey""")(
    "SELECT s_suppkey, array::join(->supplies->part, ',') AS parts FROM supplier ORDER BY s_suppkey")

  /** `<-edge<-source`: reverse hop — suppliers of each part. */
  val graphArrowRev = sq("graph_arrow_rev",
    """SELECT p_partkey,
              array_to_string((SELECT list(DISTINCT l_suppkey ORDER BY l_suppkey)
               FROM lineitem WHERE l_partkey = p_partkey), ',') AS sups
       FROM part WHERE p_partkey >= 1 AND p_partkey < 51 ORDER BY p_partkey""")(
    "SELECT p_partkey, array::join(<-supplies<-supplier, ',') AS sups FROM part:1..51 ORDER BY p_partkey")

  /** `->(edge WHERE cond)->target`: the hop's WHERE filters edge props. */
  val graphArrowCond = sq("graph_arrow_cond",
    s"""SELECT s_suppkey,
               coalesce(array_to_string((SELECT list(l_partkey ORDER BY l_partkey) FROM (
                  SELECT l_partkey, ${Exact.sqlSum("l_quantity")} AS tq
                  FROM lineitem WHERE l_suppkey = s_suppkey GROUP BY l_partkey) x
                WHERE tq > 100.0), ','), '') AS parts
        FROM supplier ORDER BY s_suppkey""")(
    """SELECT s_suppkey, array::join(->(supplies WHERE total_qty > 100.0)->part, ',') AS parts
       FROM supplier ORDER BY s_suppkey""")

  /** `->edge->target.field`: project a target field, in target-id order. */
  val graphArrowField = sq("graph_arrow_field",
    """SELECT s_suppkey,
              array_to_string((SELECT list(p_name ORDER BY p_partkey) FROM (
                 SELECT DISTINCT l_partkey FROM lineitem
                 WHERE l_suppkey = s_suppkey) j
               JOIN part ON p_partkey = j.l_partkey), '|') AS part_names
       FROM supplier WHERE s_suppkey >= 1 AND s_suppkey < 6 ORDER BY s_suppkey""")(
    """SELECT s_suppkey, array::join(->supplies->part.p_name, '|') AS part_names
       FROM supplier:1..6 ORDER BY s_suppkey""")

  // ---- @@ MATCHES and <|k|> KNN from query text ---------------------------

  /** `@@` strip-and-subplan: the MATCHES condition plans as a FullTextScan
    * against the persisted postings index; search::score(1) resolves to the
    * sub-plan's BM25 column (exec/planner/util.rs:377). */
  val fulltextBm25 = sq("fulltext_bm25",
    FullText.sqlBm25(Seq("spark", "merge", "window"), 20))(
    """SELECT doc_id, search::score(1) AS score FROM documents
       WHERE text @1@ 'spark merge window'
       ORDER BY score DESC, doc_id LIMIT 20""")

  /** `<|k,COSINE|>` brute KNN from text: the condition strips into a
    * KnnTopK (score candidates + TakeOrdered); vector::distance::knn()
    * resolves to the sub-plan's distance. The query vector is read with a
    * 1-row driver probe and rendered into the statement (Double.toString
    * round-trips exactly through the parser). */
  val knnBruteText = Q("knn_brute", Similarity.knnBrute.oracle.get) { (s, d) =>
    val vec = Similarity.queryVec(s, d, 0L)
      .map(_.toString).mkString("[", ", ", "]")
    SparkPlanner.query(s, d,
      s"""SELECT vec_id, math::fixed(1.0 - vector::distance::knn(), 6) AS cos_sim
          FROM embeddings WHERE vec_id != 0 AND embedding <|10,COSINE|> $vec
          ORDER BY cos_sim DESC, vec_id""")
  }

  /** `<|k|>` index-backed ANN from text: partition-pruned probe of the
    * persisted LSH index (approximate by design). The entry gates the text
    * path's probe quality against the exact brute top-10 — same thresholds
    * as knn_ann_lsh (it lowers to the same index probe). */
  val knnAnnText = Q("knn_ann_from_text",
    QualityGates.annOracle(10, 0.50, 0.85)) { (s, d) =>
    val vec = Similarity.queryVec(s, d, 0L)
      .map(_.toString).mkString("[", ", ", "]")
    val ann = SparkPlanner.query(s, d,
      s"""SELECT vec_id, math::fixed(1.0 - vector::distance::knn(), 6) AS cos_sim
          FROM embeddings WHERE vec_id != 0 AND embedding <|10|> $vec
          ORDER BY cos_sim DESC, vec_id""")
    QualityGates.annGates(ann, Similarity.knnBrute.fn(s, d), 10, 0.50, 0.85)
  }

  /** `<|k,ef|>` under a selective row predicate: the reference's
    * HnswConditionChecker pulls index candidates until k rows PASS the
    * WHERE condition — the Spark lowering doubles the index fetch until k
    * survive (or the fetch covers the whole index), so a predicate that
    * filters away more than the fixed slack still fills the top-k.
    * Rows-only (ANN by design); SimilaritySpec pins the exact-k property. */
  val knnAnnFiltered = Q("knn_ann_filtered",
    QualityGates.annOracle(10, 0.90, 0.99)) { (s, d) =>
    val vec = Similarity.queryVec(s, d, 0L)
      .map(_.toString).mkString("[", ", ", "]")
    val ann = SparkPlanner.query(s, d,
      s"""SELECT vec_id, math::fixed(1.0 - vector::distance::knn(), 6) AS cos_sim
          FROM embeddings WHERE vec_id >= 400 AND embedding <|10,80|> $vec
          ORDER BY cos_sim DESC, vec_id""")
    // exact oracle under the SAME row predicate: brute top-10 among vec_id
    // >= 400 (the NOINDEX lowering — oracle-exact by construction)
    val exact = SparkPlanner.query(s, d,
      s"""SELECT vec_id, math::fixed(1.0 - vector::distance::knn(), 6) AS cos_sim
          FROM embeddings WITH NOINDEX
          WHERE vec_id >= 400 AND embedding <|10|> $vec
          ORDER BY cos_sim DESC, vec_id""")
    QualityGates.annGates(ann, exact, 10, 0.90, 0.99)
  }

  /** WITH NOINDEX honored on the KNN path (exec/planner/util.rs index
    * hints): the `<|k|>` probe skips the persisted ANN index and runs the
    * exact brute cosine top-k — which makes the hinted query ORACLE-exact
    * where the index probe is approximate by design. */
  val knnNoindex = Q("knn_noindex", Similarity.knnBrute.oracle.get) { (s, d) =>
    val vec = Similarity.queryVec(s, d, 0L)
      .map(_.toString).mkString("[", ", ", "]")
    SparkPlanner.query(s, d,
      s"""SELECT vec_id, math::fixed(1.0 - vector::distance::knn(), 6) AS cos_sim
          FROM embeddings WITH NOINDEX WHERE vec_id != 0 AND embedding <|10|> $vec
          ORDER BY cos_sim DESC, vec_id""")
  }

  // ---- COLLATE / NUMERIC ordering -----------------------------------------

  /** ORDER BY … COLLATE: case-insensitive lexical order with a binary
    * tie-break (reference lexical_cmp) — lowered to a (lower(k), k) sort-key
    * pair, so the distributed range sort is unchanged. The IF flips half the
    * rows to lowercase so collation actually decides the order. */
  val sortCollate = sq("sort_collate",
    """SELECT p_partkey,
              CASE WHEN p_partkey % 2 = 0 THEN lower(p_type) ELSE p_type END AS k
       FROM part ORDER BY lower(k), k, p_partkey""")(
    """SELECT p_partkey,
              IF p_partkey % 2 = 0 THEN string::lowercase(p_type) ELSE p_type END AS k
       FROM part ORDER BY k COLLATE, p_partkey""")

  /** ORDER BY … NUMERIC: digit-run-aware natural order (reference
    * natural_cmp) — lowered to a padded-digit-run sort key. 'PKG 5' sorts
    * before 'PKG 10'; binary order would invert them. */
  val sortNumeric = sq("sort_numeric",
    """SELECT p_partkey, p_name || ' ' || CAST(p_size AS VARCHAR) AS k
       FROM part
       ORDER BY regexp_extract(k, '^([^0-9]*)', 1),
                CAST(regexp_extract(k, '([0-9]+)$', 1) AS BIGINT), p_partkey""")(
    """SELECT p_partkey, string::concat(p_name, ' ', <string>p_size) AS k
       FROM part ORDER BY k NUMERIC, p_partkey""")

  // ---- mutation statements through the planner ----------------------------
  // CREATE/INSERT/UPDATE/UPSERT/DELETE/RELATE text runs on SparkPlanner's
  // script executor, which lowers it onto the Mutations.* transforms;
  // outputs are the statements' RETURN shapes.

  val mutUpdateSet = sqOrd("mut_update_set",
    """SELECT o_orderkey, o_totalprice * CAST(1.1 AS DOUBLE) AS o_totalprice,
              '2-HIGH' AS o_orderpriority
       FROM orders WHERE o_orderstatus = 'O' ORDER BY o_orderkey""")(
    """UPDATE orders
       SET o_totalprice = o_totalprice * 1.1, o_orderpriority = '2-HIGH'
       WHERE o_orderstatus = 'O'
       RETURN o_orderkey, o_totalprice, o_orderpriority""")("o_orderkey")

  val mutDeleteBefore = sqOrd("mut_delete_before",
    """SELECT o_orderkey, o_totalprice FROM orders
       WHERE o_orderstatus = 'F' AND o_totalprice < 50000.0
       ORDER BY o_orderkey""")(
    """DELETE orders WHERE o_orderstatus = 'F' AND o_totalprice < 50000.0
       RETURN o_orderkey, o_totalprice""")("o_orderkey")

  /** Bulk INSERT from a sub-select; the duplicate-id anti-join guard is the
    * MERGE insert-arm (none of the +100 keys collide). */
  val mutCreate = sqOrd("mut_create",
    """SELECT r_regionkey + 100 AS r_regionkey,
              'REGION_' || CAST(r_regionkey AS VARCHAR) AS r_name
       FROM region ORDER BY r_regionkey""")(
    """INSERT INTO region
         (SELECT r_regionkey + 100 AS r_regionkey,
                 string::concat('REGION_', <string>r_regionkey) AS r_name
          FROM region)
       RETURN r_regionkey, r_name""")("r_regionkey")

  /** CREATE region:⟨id⟩ — single synthesized record. */
  val mutCreateOne = sq("mut_create_one",
    "SELECT CAST(100 AS BIGINT) AS r_regionkey, 'MOON' AS r_name")(
    "CREATE region:100 SET r_name = 'MOON' RETURN r_regionkey, r_name")

  /** The orders upsert scenario, written once: colliding keys
    * (o_orderkey < 50) take the update arm (+1000 on the EXISTING row),
    * fresh keys (+1000000) take the insert arm. `mut_upsert` returns its
    * rows, `mut_changefeed` reads its change feed, and the LIVE rows
    * ([[graft.streaming.Live]]) diff its after-state. */
  val ordersUpsert: String =
    """INSERT INTO orders
         (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                 o_orderdate, o_orderpriority
          FROM (SELECT * FROM orders WHERE o_orderkey < 50),
               (SELECT o_orderkey + 1000000 AS o_orderkey, o_custkey,
                       'N' AS o_orderstatus, o_totalprice, o_orderdate,
                       o_orderpriority
                FROM orders WHERE o_orderkey < 5))
       ON DUPLICATE KEY UPDATE o_totalprice += 1000.0"""

  /** INSERT … ON DUPLICATE KEY UPDATE: [[ordersUpsert]] with its RETURN. */
  val mutUpsert = sqOrd("mut_upsert",
    """WITH delta_up AS (
         SELECT o_orderkey, o_custkey, o_orderstatus,
                o_totalprice + CAST(1000.0 AS DOUBLE) AS o_totalprice,
                o_orderdate, o_orderpriority
         FROM orders WHERE o_orderkey < 50),
       delta_new AS (
         SELECT o_orderkey + 1000000, o_custkey, 'N', o_totalprice, o_orderdate,
                o_orderpriority
         FROM orders WHERE o_orderkey < 5)
       SELECT o_orderkey, o_totalprice, o_orderstatus FROM (
         SELECT * FROM delta_up UNION ALL SELECT * FROM delta_new)
       ORDER BY o_orderkey""")(
    s"$ordersUpsert RETURN o_orderkey, o_totalprice, o_orderstatus")("o_orderkey")

  /** SHOW CHANGES over [[ordersUpsert]] (cf/writer.rs → SHOW CHANGES FOR
    * TABLE orders): updates for the keys < 50 whose payload changed,
    * creates for the 5 new ids. */
  val mutChangefeed = sq("mut_changefeed",
    """SELECT o_orderkey AS id, 'update' AS action FROM orders WHERE o_orderkey < 50
       UNION ALL
       SELECT o_orderkey + 1000000 AS id, 'create' AS action FROM orders WHERE o_orderkey < 5
       ORDER BY id""")(
    s"$ordersUpsert RETURN NONE; SHOW CHANGES FOR TABLE orders SINCE 0;")

  /** UPSERT on an absent record id — the synthesized create arm. */
  val mutUpsertPoint = sq("mut_upsert_point",
    """SELECT CAST(9999999 AS BIGINT) AS o_orderkey,
              CAST(1.5 AS DOUBLE) AS o_totalprice""")(
    "UPSERT orders:9999999 SET o_totalprice = 1.5 RETURN o_orderkey, o_totalprice")

  /** RELATE over two record-id ranges: cartesian pairing + edge props. */
  val mutRelateStmt = sqOrd("mut_relate_stmt",
    """SELECT s_suppkey AS "in", p_partkey AS "out", CAST(1.5 AS DOUBLE) AS w
       FROM supplier, part
       WHERE s_suppkey >= 1 AND s_suppkey < 4 AND p_partkey >= 1 AND p_partkey < 4
       ORDER BY "in", "out"""")(
    """RELATE (supplier:1..4)->adjacent->(part:1..4) SET w = 1.5
       RETURN in, out, w""")("in", "out")

  /** RELATE supplier->supplies->part, aggregating lineitem into edge props:
    * the built-in `supplies` relation table holds exactly these edges (edge
    * id = "supplies:⟨in⟩:⟨out⟩" — record-id canonical form). */
  val mutRelate = sq("mut_relate",
    s"""SELECT 'supplies:' || CAST(l_suppkey AS VARCHAR) || ':'
                 || CAST(l_partkey AS VARCHAR) AS edge_id,
               l_suppkey AS "in", l_partkey AS "out",
               COUNT(*) AS n_shipments, ${Exact.sqlSum("l_quantity")} AS total_qty
        FROM lineitem GROUP BY l_suppkey, l_partkey
        ORDER BY "in", "out"""")(
    "SELECT id AS edge_id, in, out, n_shipments, total_qty FROM supplies ORDER BY in, out")

  // ---- implicit array-collapse + closures from text -----------------------

  /** `ArrayGroup`-family aggregates from text: non-grouped fields collapse
    * into arrays under GROUP BY, and array::join serializes them (the
    * comparator cannot hash lists). aggExpr lowers array::join to a sorted
    * concat_ws(collect_list); the oracle sorts with list_sort to match. */
  val aggArrayCollect = Q("agg_array_collect",
    """SELECT n_regionkey,
              array_to_string(list_sort(list(n_name)), '|') AS names,
              array_to_string(list_sort(list(n_name)), ',') AS joined,
              COUNT(*) AS cnt
       FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""") { (s, d) =>
    SparkPlanner.query(s, d,
      """SELECT n_regionkey,
                array::join(n_name, '|') AS names,
                array::join(n_name, ',') AS joined,
                count() AS cnt
         FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""")
  }

  /** r15 column-kernel surface: string validators (codegen'd StrCheck
    * kernels shared with the interpreter), semver inc over constructed
    * versions, capitalize-independent checks — all DuckDB-expressible. */
  val fnValidators = sq("fn_validators",
    """SELECT c_custkey,
              regexp_matches(c_name, '^[0-9]+$') AS isn,
              regexp_matches(c_name, '^[[:ascii:]]+$') AS isa,
              regexp_matches(replace(c_name, '#', ''), '^[0-9A-Za-z]+$') AS aln,
              concat('1.', CAST((c_custkey % 5) + 1 AS VARCHAR), '.0') AS semv,
              CASE (c_custkey % 8) WHEN 0 THEN true WHEN 1 THEN true
                   WHEN 2 THEN true WHEN 6 THEN true ELSE false END AS dom,
              CASE (c_custkey % 8) WHEN 0 THEN true WHEN 1 THEN true
                   WHEN 2 THEN true WHEN 4 THEN true WHEN 7 THEN true
                   ELSE false END AS eml
       FROM customer ORDER BY c_custkey""")(
    """SELECT c_custkey,
              string::is_numeric(c_name) AS isn,
              string::is_ascii(c_name) AS isa,
              string::is_alphanum(string::replace(c_name, '#', '')) AS aln,
              string::semver::inc::minor('1.' + <string> (c_custkey % 5) + '.7') AS semv,
              string::is_domain(array::at([
                'example.com', 'bücher.ch', 'xn--bcher-kva.ch',
                'xn--99999999999.com', 'a_b.com', 'ab-.com', '中文.cn.',
                'a@b'], c_custkey % 8)) AS dom,
              string::is_email(array::at([
                'a@b.co', 'a@bücher.ch', 'x@xn--bcher-kva.ch', 'u@b_c.com',
                'a@[127.0.0.1]', 'no-at-sign', 'a@xn--.com',
                'a.b@c.d.e'], c_custkey % 8)) AS eml
       FROM customer ORDER BY c_custkey""")

  /** math::top/bottom under GROUP BY (fnc/util/math/top.rs, bottom.rs):
    * the k greatest/smallest per group. The reference returns them in
    * arbitrary (heap) order, so the query pins an order with array::sort
    * and serializes with array::join for the row-hash compare. */
  val fnTopBottom = sq("fn_top_bottom",
    """SELECT o_custkey,
              array_to_string(list_sort(list_slice(list_sort(list(o_orderkey), 'DESC'), 1, 3)), '|') AS top3,
              array_to_string(list_slice(list_sort(list(o_orderkey)), 1, 2), '|') AS bot2,
              COUNT(*) AS cnt
       FROM orders GROUP BY o_custkey ORDER BY o_custkey""")(
    """SELECT o_custkey,
              array::join(array::sort(math::top(o_orderkey, 3)), '|') AS top3,
              array::join(array::sort(math::bottom(o_orderkey, 2)), '|') AS bot2,
              count() AS cnt
       FROM orders GROUP BY o_custkey ORDER BY o_custkey""")

  /** Closures (`|$x| …`, expr/closure.rs) from text: array::map / filter /
    * any / all / fold lower to Catalyst lambda expressions (transform,
    * filter, exists, forall, aggregate) — fully codegen'd, no UDFs. */
  val fnClosures = Q("fn_closures",
    """WITH t AS (SELECT p_partkey, string_split(p_type, ' ') AS ws FROM part)
       SELECT p_partkey,
              array_to_string(list_transform(ws, w -> lower(w)), '|') AS mapped,
              coalesce(array_to_string(list_filter(ws, w -> length(w) > 5), '|'), '') AS filtered,
              CAST(len(list_filter(ws, w -> length(w) > 5)) > 0 AS BOOLEAN) AS any_long,
              CAST(len(list_filter(ws, w -> length(w) >= 3)) = len(ws) AS BOOLEAN) AS all_3,
              CAST(list_sum(list_transform(ws, w -> length(w))) AS BIGINT) AS total_len
       FROM t ORDER BY p_partkey""") { (s, d) =>
    SparkPlanner.query(s, d,
      """SELECT p_partkey,
                array::join(array::map(string::split(p_type, ' '), |$w| string::lowercase($w)), '|') AS mapped,
                array::join(array::filter(string::split(p_type, ' '), |$w| string::len($w) > 5), '|') AS filtered,
                array::any(string::split(p_type, ' '), |$w| string::len($w) > 5) AS any_long,
                array::all(string::split(p_type, ' '), |$w| string::len($w) >= 3) AS all_3,
                array::fold(string::split(p_type, ' '), 0, |$acc, $w| $acc + string::len($w)) AS total_len
         FROM part ORDER BY p_partkey""")
  }

  /** duration::* + datetime ± duration-literal arithmetic from text
    * (fnc durations; SurrealQL literals 3d/12h): timestamp + day-time
    * interval, total-unit decomposition — pure integer math on both sides. */
  val fnDuration = sq("fn_duration",
    """SELECT o_orderkey,
              CAST(o_orderdate + INTERVAL 3 DAY AS TIMESTAMP) AS plus_3d,
              CAST(o_orderdate - INTERVAL 12 HOUR AS TIMESTAMP) AS minus_12h,
              CAST(CAST(epoch(o_orderdate) AS BIGINT) % 86400 AS BIGINT) AS secs_in_day,
              CAST(o_orderkey * 3600 // 86400 AS BIGINT) AS dur_days,
              CAST((o_orderkey * 3600 % 86400) // 3600 AS BIGINT) AS dur_hours
       FROM orders ORDER BY o_orderkey""")(
    """SELECT o_orderkey,
              o_orderdate + 3d AS plus_3d,
              o_orderdate - 12h AS minus_12h,
              time::unix(o_orderdate) % 86400 AS secs_in_day,
              duration::days(duration::from_secs(o_orderkey * 3600)) AS dur_days,
              duration::hours(duration::from_secs(o_orderkey * 3600)) % 24 AS dur_hours
       FROM orders ORDER BY o_orderkey""")

  /** Idiom paths from text (§2.3): object-literal construction (→ struct),
    * nested field paths, trailing array index, array::len — all navigated
    * through a subquery-projected document column. */
  val idiomPaths = sq("idiom_paths",
    """WITH docs AS (
         SELECT c_custkey,
                {'name': c_name,
                 'address': {'segment': c_mktsegment, 'nation': c_nationkey},
                 'tags': string_split(c_mktsegment, 'I')} AS doc
         FROM customer)
       SELECT c_custkey,
              doc.name AS name,
              doc.address.segment AS seg,
              CAST(doc.address.nation AS BIGINT) AS nat,
              doc.tags[1] AS tag0,
              CAST(len(doc.tags) AS BIGINT) AS n_tags
       FROM docs ORDER BY c_custkey""")(
    """SELECT c_custkey,
              doc.name AS name,
              doc.address.segment AS seg,
              <int> doc.address.nation AS nat,
              doc.tags[0] AS tag0,
              array::len(doc.tags) AS n_tags
       FROM (SELECT c_custkey,
                    { name: c_name,
                      address: { segment: c_mktsegment, nation: c_nationkey },
                      tags: string::split(c_mktsegment, 'I') } AS doc
             FROM customer)
       ORDER BY c_custkey""")

  /** parse::url::* / parse::email::* from text (fnc/mod.rs:314-322) over
    * URLs/emails synthesized in a subquery projection. */
  val fnParse = sq("fn_parse",
    """WITH u AS (
         SELECT p_partkey,
                'https://shop.example.com/parts/' || CAST(p_partkey AS VARCHAR)
                  || '?brand=' || replace(p_brand, '#', '') AS url,
                'user' || CAST(p_partkey AS VARCHAR) || '@mail.example.org' AS email
         FROM part)
       SELECT p_partkey,
              regexp_extract(url, '^https?://([^/]+)', 1) AS host,
              regexp_extract(url, '^https?://[^/]+(/[^?]*)', 1) AS path,
              regexp_extract(url, '\?(.*)$', 1) AS query,
              regexp_extract(url, '^(https?)', 1) AS scheme,
              regexp_extract(email, '^([^@]+)@', 1) AS email_user,
              regexp_extract(email, '@(.+)$', 1) AS email_host
       FROM u ORDER BY p_partkey""")(
    """SELECT p_partkey,
              parse::url::host(url) AS host,
              parse::url::path(url) AS path,
              parse::url::query(url) AS query,
              parse::url::scheme(url) AS scheme,
              parse::email::user(email) AS email_user,
              parse::email::host(email) AS email_host
       FROM (SELECT p_partkey,
                    string::concat('https://shop.example.com/parts/', <string> p_partkey,
                                   '?brand=', string::replace(p_brand, '#', '')) AS url,
                    string::concat('user', <string> p_partkey, '@mail.example.org') AS email
             FROM part)
       ORDER BY p_partkey""")

  /** parse::url batch 2: domain/port/fragment (fnc/parse.rs). */
  val fnParse2 = sq("fn_parse2",
    """SELECT p_partkey, 'shop.example.com' AS dom,
              CAST(8080 AS BIGINT) AS port, 'sec' || p_partkey AS frag
       FROM part WHERE p_partkey < 20 ORDER BY p_partkey""")(
    """SELECT p_partkey,
              parse::url::domain(url) AS dom,
              parse::url::port(url) AS port,
              parse::url::fragment(url) AS frag
       FROM (SELECT p_partkey,
                    string::concat('https://shop.example.com:8080/x#sec',
                                   <string> p_partkey) AS url
             FROM part WHERE p_partkey < 20)
       ORDER BY p_partkey""")

  /** SPLIT ON multiple DOCUMENT fields — a cartesian of explodes, one
    * chained generator per field (exec/operators/split.rs). */
  val splitMulti = sq("split_multi",
    """SELECT o_orderkey, a.a AS a, b.b AS b
       FROM orders, (SELECT unnest([1, 2]) AS a) a,
            (SELECT unnest(['x', 'y']) AS b) b
       WHERE o_orderkey >= 1 AND o_orderkey < 3
       ORDER BY o_orderkey, a, b""")(
    """SELECT o_orderkey, a, b
       FROM (SELECT o_orderkey, [1, 2] AS a, ['x', 'y'] AS b FROM orders:1..3)
       SPLIT a, b ORDER BY o_orderkey, a, b""")

  /** Array namespace batch 3 (fnc/array.rs): transpose, boolean algebra,
    * closure find/find_index, every/some aliases, swap, pop, matches, and
    * string::html::encode — all codegen'd lambdas over constant inputs
    * with literal expected renderings. */
  val fnArray3 = sq("fn_array3",
    """SELECT o_orderkey,
              '1,3,2,4' AS tp, 'true,false' AS ba, 'true,true' AS bo,
              'false,true' AS bx, 'false,true' AS bn,
              4 AS fnd, 1 AS fni, TRUE AS ev, FALSE AS sm,
              '3,2,1' AS sw, 9 AS pp, 'false,true,false' AS mt,
              'a&#32;&lt;b&gt;&#61;&quot;c&amp;d&quot;' AS henc
       FROM orders WHERE o_orderkey >= 1 AND o_orderkey < 3
       ORDER BY o_orderkey""")(
    """SELECT o_orderkey,
              array::join(array::flatten(array::transpose([[1,2],[3,4]])), ',') AS tp,
              array::join(array::boolean_and([true,true], [true,false]), ',') AS ba,
              array::join(array::boolean_or([true,false], [false,true]), ',') AS bo,
              array::join(array::boolean_xor([true,false], [true,true]), ',') AS bx,
              array::join(array::boolean_not([true,false]), ',') AS bn,
              array::find([1,4,6], |$x| $x > 3) AS fnd,
              array::find_index([1,4,6], |$x| $x > 3) AS fni,
              array::every([2,4,6], |$x| $x % 2 = 0) AS ev,
              array::some([1,3,5], |$x| $x % 2 = 0) AS sm,
              array::join(array::swap([1,2,3], 0, 2), ',') AS sw,
              array::pop([1,2,9]) AS pp,
              array::join(array::matches([1,2,3], 2), ',') AS mt,
              string::html::encode('a <b>="c&d"') AS henc
       FROM orders:1..3 ORDER BY o_orderkey""")

  /** Percentile-family aggregates (fnc/math.rs: p in 0..100, linear
    * interpolation — the definition Spark's percentile and DuckDB's
    * quantile_cont share): p90, spread, interquartile, midhinge, trimean
    * per group. ENGINE EXTENSION: the reference only registers
    * count/sum/mean/min/max/stddev/variance/median as aggregates
    * (exec/function/builtin/aggregates/math.rs) and treats these as
    * array functions; grouping by them directly is an analytics
    * convenience this engine adds. Imperative aggs split from codegen'd
    * ones (the median pattern), declarative side keeps map-side
    * partials. */
  val fnAggStats2 = sq("fn_agg_stats2",
    """SELECT l_returnflag,
              round(quantile_cont(l_quantity, 0.9), 6) AS p90,
              max(l_quantity) - min(l_quantity) AS spread,
              round(quantile_cont(l_quantity, 0.75)
                    - quantile_cont(l_quantity, 0.25), 6) AS iqr,
              round((quantile_cont(l_quantity, 0.25)
                     + quantile_cont(l_quantity, 0.75)) / 2, 6) AS mh,
              round((quantile_cont(l_quantity, 0.25)
                     + 2 * quantile_cont(l_quantity, 0.5)
                     + quantile_cont(l_quantity, 0.75)) / 4, 6) AS tm,
              COUNT(*) AS n
       FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")(
    """SELECT l_returnflag,
              math::fixed(math::percentile(l_quantity, 90), 6) AS p90,
              math::spread(l_quantity) AS spread,
              math::fixed(math::interquartile(l_quantity), 6) AS iqr,
              math::fixed(math::midhinge(l_quantity), 6) AS mh,
              math::fixed(math::trimean(l_quantity), 6) AS tm,
              count() AS n
       FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")

  /** string::similarity::jaro / jaro_winkler as native codegen'd kernels
    * (StrSim — the strsim-crate algorithm both engine paths share); the
    * oracle is DuckDB's own jaro_similarity/jaro_winkler_similarity,
    * rounded to absorb last-ulp disagreement between implementations. */
  val fnSimilarity = sq("fn_similarity",
    """SELECT p_partkey,
              round(jaro_similarity(p_name, p_type), 6) AS j,
              round(jaro_winkler_similarity(p_name, p_type), 6) AS jw
       FROM part WHERE p_partkey < 200 ORDER BY p_partkey""")(
    """SELECT p_partkey,
              math::fixed(string::similarity::jaro(p_name, p_type), 6) AS j,
              math::fixed(string::similarity::jaro_winkler(p_name, p_type), 6) AS jw
       FROM part WHERE p_partkey < 200 ORDER BY p_partkey""")

  /** string::similarity::fuzzy / ::smithwaterman — SkimMatcherV2 scoring
    * (fnc/string.rs:536-587, both names route through the same matcher).
    * The oracle rows are the reference's OWN published outputs
    * (surrealdb/core/tests/function.rs:1313-1377), pinning the shared
    * SkimV2 kernel to reference ground truth on both engine paths.
    *
    * Fidelity note: the kernel carries a −1 first-matched-char calibration
    * (SkimV2.scala) whose provenance is a conjecture — the DP's natural
    * score sits one above all five published outputs, and no further
    * vectors exist offline. All available ground truth passes and
    * SkimV2Spec pins the scoring model's structural invariants
    * (contiguity dominance, gap monotonicity, case-penalty ordering,
    * boundary bonuses) over randomized inputs; inputs far from the five
    * pinned shapes could still drift from the fuzzy_matcher crate. */
  val fnFuzzy = sq("fn_fuzzy",
    """SELECT c, p, CAST(fz AS BIGINT) AS fz, CAST(sw AS BIGINT) AS sw
       FROM (VALUES
         ('', '', 0, 0),
         ('some', 'text', 0, 0),
         ('text', 'TEXT', 83, 83),
         ('TEXT', 'TEXT', 91, 91),
         ('this could be a tricky test', 'this test', 174, 174))
       AS t(c, p, fz, sw) ORDER BY c, p""")(
    """SELECT c, p, string::similarity::fuzzy(c, p) AS fz,
              string::similarity::smithwaterman(c, p) AS sw
       FROM [
         { c: '', p: '' },
         { c: 'some', p: 'text' },
         { c: 'text', p: 'TEXT' },
         { c: 'TEXT', p: 'TEXT' },
         { c: 'this could be a tricky test', p: 'this test' }
       ] ORDER BY c, p""")

  /** object::values / object::entries (fnc/object.rs): exact on object
    * literals, JSON-rendered for struct columns; the destructure struct
    * `fk.{…}` feeds the struct arm. Objects are BTreeMaps (val/object.rs),
    * so iteration is KEY-SORTED: values of {s, p} come out (p, s), and the
    * destructured {c_name, c_mktsegment} as (c_mktsegment, c_name). */
  val fnObject2 = sq("fn_object2",
    """SELECT o_orderkey,
              o_orderpriority || ',' || o_orderstatus AS vals,
              'a,1,b,' || o_orderstatus AS ents,
              c.c_mktsegment || ',' || c.c_name AS dvals
       FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
       WHERE o_orderkey >= 1 AND o_orderkey < 20 ORDER BY o_orderkey""")(
    """SELECT o_orderkey,
              array::join(object::values({ s: o_orderstatus, p: o_orderpriority }), ',') AS vals,
              array::join(array::flatten(object::entries({ a: 1, b: o_orderstatus })), ',') AS ents,
              array::join(object::values(o_custkey.{c_name, c_mktsegment}), ',') AS dvals
       FROM orders:1..20 ORDER BY o_orderkey""")

  /** time::format (chrono's full strftime table via the shared Strftime
    * kernel — r18) + schema-derived type::of. The second row of columns
    * exercises the r18-added specifiers (%F %T %j %C %e %I %p %u %w %V %G)
    * against DuckDB's C-style strftime, which shares their definitions. */
  val fnFormat = sq("fn_format",
    """SELECT o_orderkey,
              strftime(o_orderdate, '%Y-%m-%d') AS d,
              strftime(o_orderdate, '%d/%m/%Y %H:%M') AS dm,
              strftime(o_orderdate, '%B %Y') AS mon,
              strftime(o_orderdate, '%Y-%m-%d %T') AS iso,
              strftime(o_orderdate, '%j|%I %p|%U %W') AS parts,
              strftime(o_orderdate, '%u%w') AS dows,
              strftime(o_orderdate, '%G-%V') AS isow,
              'float' AS t1, 'string' AS t2
       FROM orders WHERE o_orderkey >= 1 AND o_orderkey < 20
       ORDER BY o_orderkey""")(
    """SELECT o_orderkey,
              time::format(o_orderdate, '%Y-%m-%d') AS d,
              time::format(o_orderdate, '%d/%m/%Y %H:%M') AS dm,
              time::format(o_orderdate, '%B %Y') AS mon,
              time::format(o_orderdate, '%F %T') AS iso,
              time::format(o_orderdate, '%j|%I %p|%U %W') AS parts,
              time::format(o_orderdate, '%u%w') AS dows,
              time::format(o_orderdate, '%G-%V') AS isow,
              type::of(o_totalprice) AS t1, type::of(o_orderstatus) AS t2
       FROM orders:1..20 ORDER BY o_orderkey""")

  // ---- text-analysis pipeline from SurrealQL text -------------------------

  /** Token counting: whitespace tokens + a BPE-ish subword estimate
    * (chars/4 is the classic byte-pair heuristic), plus char classes. */
  val textTokens = sq("text_tokens",
    """SELECT doc_id,
              CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens,
              CAST(length(text) AS BIGINT) AS n_chars2,
              CAST(ceil(length(text) / 4.0) AS BIGINT) AS bpe_est,
              CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_nonspace
       FROM documents ORDER BY doc_id""")(
    """SELECT doc_id,
              array::len(string::split(string::trim(text), ' ')) AS n_tokens,
              string::len(text) AS n_chars2,
              <int> math::ceil(string::len(text) / 4.0) AS bpe_est,
              string::len(string::replace(text, ' ', '')) AS n_nonspace
       FROM documents ORDER BY doc_id""")

  /** Quality scoring: mean word length, stopword ratio, short-doc flag —
    * the standard C4/Gopher-style filters, as pure column math. */
  val textQuality = sq("text_quality",
    """SELECT doc_id,
               CAST(length(replace(text, ' ', '')) AS DOUBLE)
                 / len(string_split(trim(text), ' ')) AS mean_word_len,
               CAST(len(list_filter(string_split(trim(text), ' '),
                        t -> list_contains(['the', 'a', 'of', 'and', 'to', 'in', 'is', 'it'], t))) AS DOUBLE)
                 / len(string_split(trim(text), ' ')) AS stop_ratio,
               length(text) < 100 AS too_short
        FROM documents ORDER BY doc_id""")(
    """SELECT doc_id,
              <float> string::len(string::replace(text, ' ', ''))
                / array::len(string::split(string::trim(text), ' ')) AS mean_word_len,
              <float> array::len(array::filter(string::split(string::trim(text), ' '),
                  |$t| $t INSIDE ['the', 'a', 'of', 'and', 'to', 'in', 'is', 'it']))
                / array::len(string::split(string::trim(text), ' ')) AS stop_ratio,
              string::len(text) < 100 AS too_short
       FROM documents ORDER BY doc_id""")

  /** Language-ID: marker-word heuristic — count hits against per-language
    * marker lists, argmax with a fixed tie order. (The testdata vocabulary
    * is synthetic; the per-language scoring and deterministic argmax are
    * what's exercised.) */
  val textLangId = sq("text_langid", {
    val (en, de, fr) = TextOps.sqlLangScores
    s"""SELECT doc_id,
               CASE WHEN $en >= $de AND $en >= $fr THEN 'en'
                    WHEN $de >= $fr THEN 'de' ELSE 'fr' END AS pred_lang,
               CAST($en AS BIGINT) AS score_en
        FROM documents ORDER BY doc_id"""
  })(
    """SELECT doc_id,
              IF array::len(array::filter(string::split(string::trim(text), ' '), |$t| $t INSIDE ['the', 'a', 'of', 'and', 'fast']))
                   >= array::len(array::filter(string::split(string::trim(text), ' '), |$t| $t INSIDE ['der', 'die', 'das', 'und', 'nicht']))
                 AND array::len(array::filter(string::split(string::trim(text), ' '), |$t| $t INSIDE ['the', 'a', 'of', 'and', 'fast']))
                   >= array::len(array::filter(string::split(string::trim(text), ' '), |$t| $t INSIDE ['le', 'la', 'les', 'et', 'est']))
                 { 'en' }
              ELSE IF array::len(array::filter(string::split(string::trim(text), ' '), |$t| $t INSIDE ['der', 'die', 'das', 'und', 'nicht']))
                   >= array::len(array::filter(string::split(string::trim(text), ' '), |$t| $t INSIDE ['le', 'la', 'les', 'et', 'est']))
                 { 'de' }
              ELSE { 'fr' } AS pred_lang,
              array::len(array::filter(string::split(string::trim(text), ' '), |$t| $t INSIDE ['the', 'a', 'of', 'and', 'fast'])) AS score_en
       FROM documents ORDER BY doc_id""")

  /** Exact dedup from text: hash-groupBy on the content digest, GROUP BY
    * referencing the projection alias. One digest-keyed shuffle with
    * map-side combine — linear at 100 TB. */
  val dedupExact = sq("dedup_exact",
    """SELECT md5(text) AS h, MIN(doc_id) AS keeper, COUNT(*) AS copies
       FROM documents GROUP BY md5(text) ORDER BY h""")(
    """SELECT crypto::md5(text) AS h, math::min(doc_id) AS keeper, count() AS copies
       FROM documents GROUP BY h ORDER BY h""")

  /** Document fingerprinting: digest of the character-normalized content —
    * the cheap first pass before MinHash (robust to whitespace/case drift). */
  val textFingerprint = sq("text_fingerprint",
    """SELECT doc_id,
              md5(lower(replace(text, ' ', ''))) AS fp,
              substring(md5(lower(replace(text, ' ', ''))), 1, 8) AS fp_short
       FROM documents ORDER BY doc_id""")(
    """SELECT doc_id,
              crypto::md5(string::lowercase(string::replace(text, ' ', ''))) AS fp,
              string::slice(crypto::md5(string::lowercase(string::replace(text, ' ', ''))), 0, 8) AS fp_short
       FROM documents ORDER BY doc_id""")

  /** vector::* namespace from text (fnc vector): dot / magnitude /
    * euclidean / manhattan / chebyshev as in-order double folds, plus
    * element arithmetic. The query vector renders into the statement via a
    * 1-row driver probe (the knn_brute pattern — Double.toString
    * round-trips exactly). */
  val vectorOps = Q("vector_ops", {
    import Similarity.sqlDot
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 1)
        SELECT e.vec_id,
               round(${sqlDot("e.embedding", "q.qe")}, 6) AS dot,
               round(sqrt(${sqlDot("e.embedding", "e.embedding")}), 6) AS magnitude,
               round(sqrt(list_sum(list_transform(range(1, 65),
                 i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(q.qe[i] AS DOUBLE))
                      * (CAST(e.embedding[i] AS DOUBLE) - CAST(q.qe[i] AS DOUBLE))))), 6)
                 AS euclidean,
               round(list_sum(list_transform(range(1, 65),
                 i -> abs(CAST(e.embedding[i] AS DOUBLE) - CAST(q.qe[i] AS DOUBLE)))), 6)
                 AS manhattan,
               round(list_max(list_transform(range(1, 65),
                 i -> abs(CAST(e.embedding[i] AS DOUBLE) - CAST(q.qe[i] AS DOUBLE)))), 6)
                 AS chebyshev,
               round(CAST(e.embedding[1] AS DOUBLE) + CAST(q.qe[1] AS DOUBLE), 6) AS add0,
               round(CAST(e.embedding[1] AS DOUBLE) * CAST(2.0 AS DOUBLE), 6) AS scale0,
               round(CAST(e.embedding[1] AS DOUBLE)
                     / sqrt(${sqlDot("e.embedding", "e.embedding")}), 6) AS norm0
        FROM embeddings e, q
        WHERE e.vec_id < 50
        ORDER BY e.vec_id"""
  }) { (s, d) =>
    val qv = Similarity.queryVec(s, d, 1L)
    val vec = qv.map(_.toString).mkString("[", ", ", "]")
    val q0 = qv.head.toString
    SparkPlanner.query(s, d,
      s"""SELECT vec_id,
             math::fixed(vector::dot(embedding, $vec), 6) AS dot,
             math::fixed(vector::magnitude(embedding), 6) AS magnitude,
             math::fixed(vector::distance::euclidean(embedding, $vec), 6) AS euclidean,
             math::fixed(vector::distance::manhattan(embedding, $vec), 6) AS manhattan,
             math::fixed(vector::distance::chebyshev(embedding, $vec), 6) AS chebyshev,
             math::fixed(embedding[0] + $q0, 6) AS add0,
             math::fixed(embedding[0] * 2.0, 6) AS scale0,
             math::fixed(embedding[0] / vector::magnitude(embedding), 6) AS norm0
          FROM embeddings WHERE vec_id < 50 ORDER BY vec_id""")
  }

  // ---- DynamicScan / mock source / ORDER BY RAND --------------------------

  /** DynamicScan (exec/operators/scan/dynamic.rs:53): `FROM $param` — the
    * bound value resolves to a concrete table at PLAN time, so Catalyst
    * still sees a static parquet relation with full pushdown. */
  val dynamicScan = sq("dynamic_scan",
    "SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey")(
    "LET $t = 'nation'; SELECT n_nationkey, n_name FROM $t ORDER BY n_nationkey")

  /** Mock source `|t:n|` (expr/mock.rs:68): n generated record ids from a
    * `spark.range` — a parallel generator, no driver materialization. */
  val mockSource = sq("mock_source",
    "SELECT 'mock:' || i AS id FROM generate_series(1, 5) AS t(i) ORDER BY id")(
    "SELECT id FROM |mock:5| ORDER BY id")

  /** rand::* namespace from text (fnc/rand.rs): per-row distributed
    * randomness. Values are nondeterministic by nature, so the oracle pins
    * DISTRIBUTION INVARIANTS over the 100 generated rows instead: range
    * bounds per generator, both booleans observed (P(miss) = 2^-99), all
    * uuids distinct and well-formed. */
  val fnRand = Q("fn_rand",
    """SELECT CAST(100 AS BIGINT) AS n,
              CAST(true AS BOOLEAN) AS f_in_range,
              CAST(true AS BOOLEAN) AS fr_in_range,
              CAST(true AS BOOLEAN) AS die_in_range,
              CAST(true AS BOOLEAN) AS bool_both,
              CAST(100 AS BIGINT) AS uuid_distinct,
              CAST(true AS BOOLEAN) AS uuid_wellformed""") { (s, d) =>
    val r = SparkPlanner.query(s, d,
      """SELECT o_orderkey, rand::float() AS f, rand::float(10.0, 20.0) AS fr,
                rand::int(1, 6) AS die, rand::bool() AS b, rand::uuid() AS u
         FROM orders:1..101 ORDER BY o_orderkey""")
    r.agg(
      count(lit(1)).as("n"),
      bool_and(col("f") >= 0.0 && col("f") < 1.0).as("f_in_range"),
      bool_and(col("fr") >= 10.0 && col("fr") < 20.0).as("fr_in_range"),
      bool_and(col("die") >= 1 && col("die") <= 6).as("die_in_range"),
      (countDistinct(col("b")) === 2).as("bool_both"),
      countDistinct(col("u")).as("uuid_distinct"),
      bool_and(col("u").rlike(
        "^[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}$"))
        .as("uuid_wellformed"))
  }

  /** ORDER BY RAND() (exec/operators/sort/shuffle.rs:32): per-row random
    * sort key, distributed shuffle-sort. The order is random but the row
    * SET is not — the oracle checks the permutation invariants (count,
    * distinct keys, key sum) plus the LIMIT-under-random-order row count. */
  val orderRand = Q("order_rand",
    """SELECT COUNT(*) AS n, COUNT(DISTINCT o_orderkey) AS n_keys,
              CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
              CAST(100 AS BIGINT) AS n_limited
       FROM orders""") { (s, d) =>
    val full = SparkPlanner.query(s, d,
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY RAND()")
    val lim = SparkPlanner.query(s, d,
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY RAND() LIMIT 100")
    full.agg(
      count(lit(1)).as("n"),
      countDistinct(col("o_orderkey")).as("n_keys"),
      sum(col("o_orderkey")).cast("bigint").as("key_sum"))
      .crossJoin(lim.agg(count(lit(1)).as("n_limited")))
  }

  // ---- `@{n..m}` recursion from text --------------------------------------

  /** Bounded recursion, default strategy (exec/operators/recursion.rs:81,
    * recursion/default.rs): from each selected order, walk its customer's
    * date-ordered `next_order` chain and return the frontier at the final
    * depth reached (max depth ≤ 3 with a non-empty frontier, if ≥ min 1).
    * The oracle replays the walk with a recursive CTE. Scalarized with
    * array::join like the arrow hops. */
  val recursionSurql = sq("recursion_surql",
    """WITH RECURSIVE seq AS (
         SELECT o_orderkey, o_custkey,
                lead(o_orderkey) OVER (PARTITION BY o_custkey
                                       ORDER BY o_orderdate, o_orderkey) AS nxt
         FROM orders),
       edges AS (SELECT o_orderkey AS src, nxt AS dst FROM seq WHERE nxt IS NOT NULL),
       walk(start, node, depth) AS (
         SELECT o_orderkey, o_orderkey, 0 FROM orders
         WHERE o_orderkey >= 1 AND o_orderkey < 51
         UNION ALL
         SELECT w.start, e.dst, w.depth + 1 FROM walk w
         JOIN edges e ON w.node = e.src WHERE w.depth < 3),
       fin AS (SELECT start, max(depth) AS dstar FROM walk GROUP BY start),
       res AS (
         SELECT w.start, array_to_string(list(w.node ORDER BY w.node), ',') AS reached
         FROM walk w JOIN fin f ON w.start = f.start AND w.depth = f.dstar
         WHERE f.dstar >= 1 GROUP BY w.start)
       SELECT o.o_orderkey, coalesce(r.reached, '') AS reached
       FROM orders o LEFT JOIN res r ON r.start = o.o_orderkey
       WHERE o.o_orderkey >= 1 AND o.o_orderkey < 51
       ORDER BY o.o_orderkey""")(
    """SELECT o_orderkey, array::join(@{1..3}(->next_order->orders), ',') AS reached
       FROM orders:1..51 ORDER BY o_orderkey""")

  /** Shortest-path recursion (`+shortest=`, recursion/shortest.rs) via
    * iterative min-join BFS on the Spark path. The start and target are the
    * 1st and 4th orders (by date) of the lowest-keyed customer with ≥4
    * orders — derived identically by the oracle's window, and rendered into
    * the statement by two O(1)-row driver probes (the knn_brute pattern).
    * Path excludes the start (non-inclusive), so it is chain ranks 2..4. */
  /** The (start, target) fixture probes are deterministic per corpus —
    * memoized so bench reps and repeated verifies pay the two window
    * passes once. */
  private val shortestProbes =
    scala.collection.concurrent.TrieMap[String, (Long, Long)]()

  val recursionShortest = Q("recursion_shortest",
    """WITH seq AS (
         SELECT o_orderkey, o_custkey,
                row_number() OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate, o_orderkey) AS rn,
                count(*) OVER (PARTITION BY o_custkey) AS cnt
         FROM orders),
       c AS (SELECT min(o_custkey) AS ck FROM seq WHERE cnt >= 4),
       s AS (SELECT o_orderkey AS sk FROM seq, c WHERE o_custkey = ck AND rn = 1),
       p AS (SELECT array_to_string(list(o_orderkey ORDER BY rn), ',') AS path
             FROM seq, c WHERE o_custkey = ck AND rn >= 2 AND rn <= 4)
       SELECT sk AS o_orderkey, path FROM s, p""") { (s, d) =>
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val (s0, t0) = shortestProbes.getOrElseUpdate(d, {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      val seq = Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
        .withColumn("rn", row_number().over(w))
        .withColumn("cnt", count(lit(1)).over(Window.partitionBy("o_custkey")))
        .persist()
      val ck = seq.filter(col("cnt") >= 4).agg(min("o_custkey")).head.getLong(0)
      val start = seq.filter(col("o_custkey") === ck && col("rn") === 1)
        .select("o_orderkey").head.getLong(0)
      val target = seq.filter(col("o_custkey") === ck && col("rn") === 4)
        .select("o_orderkey").head.getLong(0)
      seq.unpersist()
      (start, target)
    })
    SparkPlanner.query(s, d,
      s"""SELECT o_orderkey,
            array::join(@{1..6+shortest=orders:$t0}(->next_order->orders), ',') AS path
          FROM orders:$s0""")
  }

  /** `+collect` recursion (recursion/collect.rs): every node first visited
    * at depth 1..4 of the chain walk — for a linear chain, exactly the next
    * four orders, which the oracle enumerates by window rank. */
  val recursionCollect = sq("recursion_collect",
    """WITH seq AS (
         SELECT o_orderkey, o_custkey,
                row_number() OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate, o_orderkey) AS rn
         FROM orders),
       res AS (
         SELECT a.o_orderkey AS start,
                array_to_string(list(b.o_orderkey ORDER BY b.o_orderkey), ',') AS visited
         FROM seq a JOIN seq b
           ON a.o_custkey = b.o_custkey AND b.rn > a.rn AND b.rn <= a.rn + 4
         GROUP BY a.o_orderkey)
       SELECT o.o_orderkey, coalesce(r.visited, '') AS visited
       FROM orders o LEFT JOIN res r ON r.start = o.o_orderkey
       WHERE o.o_orderkey >= 1 AND o.o_orderkey < 51
       ORDER BY o.o_orderkey""")(
    """SELECT o_orderkey, array::join(@{1..4+collect}(->next_order->orders), ',') AS visited
       FROM orders:1..51 ORDER BY o_orderkey""")

  /** Array idiom parts on the Spark path (expr/part.rs Where/All/Last):
    * `[WHERE cond]` lowers to a codegen'd `filter` lambda with the element
    * bound as the condition scope, `[*]` passes the array through, `[$]`
    * takes the last element. */
  val idiomArrayFilter = sq("idiom_array_filter",
    """SELECT vec_id,
              len(list_filter(embedding, x -> x > 0.0)) AS pos_dims,
              len(embedding) AS all_dims,
              round(CAST(embedding[-1] AS DOUBLE) * 1000.0) AS last_mil
       FROM embeddings ORDER BY vec_id""")(
    """SELECT vec_id,
              array::len(embedding[WHERE $this > 0.0]) AS pos_dims,
              array::len(embedding[*]) AS all_dims,
              math::round(embedding[$] * 1000.0) AS last_mil
       FROM embeddings ORDER BY vec_id""")

  /** type::is::* runtime type checks (fnc/mod.rs:491-510): on a typed
    * column the answer is static from the schema, null-aware. */
  val fnTypeIs = sq("fn_type_is",
    """SELECT o_orderkey,
              TRUE AS is_int, TRUE AS is_num, TRUE AS is_str,
              FALSE AS not_float, TRUE AS is_dt
       FROM orders WHERE o_orderkey >= 1 AND o_orderkey < 6
       ORDER BY o_orderkey""")(
    """SELECT o_orderkey,
              type::is_int(o_orderkey) AS is_int,
              type::is_number(o_totalprice) AS is_num,
              type::is_string(o_orderstatus) AS is_str,
              type::is_float(o_orderstatus) AS not_float,
              type::is_datetime(o_orderdate) AS is_dt
       FROM orders:1..6 ORDER BY o_orderkey""")

  /** GraphQL front-end (core/src/gql/tables.rs): a query document with
    * filter/order/limit/start arguments translates source-to-source onto
    * SurrealQL and runs through the SAME parser + SparkPlanner as every
    * other entry — table root field → one SELECT (tables.rs:291), filter
    * operators → binary ops (tables.rs:1628). */
  val gqlQuery = Q("gql_query",
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
       WHERE o_orderstatus = 'F' AND o_totalprice > 150000.0
       ORDER BY o_totalprice DESC, o_orderkey LIMIT 20 OFFSET 5""") { (s, d) =>
    graft.gql.Gql.query(s, d, """
      query {
        orders(filter: {and: [{o_orderstatus: {eq: "F"}},
                              {o_totalprice: {gt: 150000.0}}]},
               order: {desc: o_totalprice, then: {asc: o_orderkey}},
               limit: 20, start: 5) {
          o_orderkey o_custkey o_totalprice
        }
      }""")
  }

  /** GraphQL variables + fragments (gql/schema.rs client surface): the
    * document carries `$min`/`$st` variable definitions and a named
    * fragment; both resolve BEFORE translation, so the Spark plan is the
    * same pushed-down SELECT as gql_query. */
  val gqlVars = Q("gql_vars",
    """SELECT o_orderkey, o_totalprice FROM orders
       WHERE o_orderstatus = 'F' AND o_totalprice > 150000.0
       ORDER BY o_totalprice DESC, o_orderkey LIMIT 15""") { (s, d) =>
    graft.gql.Gql.query(s, d, """
      fragment keyPrice on orders { o_orderkey o_totalprice }
      query($min: Float!, $st: String = "F") {
        orders(filter: {and: [{o_orderstatus: {eq: $st}},
                              {o_totalprice: {gt: $min}}]},
               order: {desc: o_totalprice, then: {asc: o_orderkey}},
               limit: 15) { ...keyPrice }
      }""", graft.gql.Gql.parseVariables("{min: 150000.0}"))
  }

  /** set::* namespace (fnc/set.rs): BTreeSet semantics — every result is
    * sorted and deduplicated; difference is SYMMETRIC (A △ B), complement is
    * relative (A \ B). Arrays built per row from key columns. */
  val fnSet = sq("fn_set",
    """SELECT n_nationkey,
              array_to_string(list_sort(list_distinct([n_nationkey, n_regionkey, 0])), ',') AS u,
              array_to_string(list_sort(list_distinct(list_intersect([n_nationkey, n_regionkey, 7], [n_regionkey, 7]))), ',') AS i,
              coalesce(array_to_string(list_sort(list_distinct(
                list_cat(list_filter([n_nationkey, 1], x -> NOT list_contains([1, n_regionkey], x)),
                         list_filter([1, n_regionkey], x -> NOT list_contains([n_nationkey, 1], x))))), ','), '') AS d,
              coalesce(array_to_string(list_sort(list_distinct(
                list_filter([n_nationkey, n_regionkey], x -> x != 0))), ','), '') AS c,
              len(list_distinct([n_nationkey, n_regionkey, n_nationkey])) AS l
       FROM nation ORDER BY n_nationkey""")(
    """SELECT n_nationkey,
              array::join(set::union([n_nationkey, n_regionkey], [0, n_regionkey]), ',') AS u,
              array::join(set::intersect([n_nationkey, n_regionkey, 7], [n_regionkey, 7]), ',') AS i,
              array::join(set::difference([n_nationkey, 1], [1, n_regionkey]), ',') AS d,
              array::join(set::complement([n_nationkey, n_regionkey], [0]), ',') AS c,
              set::len([n_nationkey, n_regionkey, n_nationkey]) AS l
       FROM nation ORDER BY n_nationkey""")

  /** object::* + encoding::base64 namespaces: keys/len over an object
    * literal (struct), unpadded base64 round-trip over document source
    * strings (fnc/encoding.rs STANDARD_NO_PAD). */
  val fnObjectEncoding = sq("fn_object_encoding",
    """SELECT doc_id,
              'k,src' AS ks, 2 AS kl,
              rtrim(to_base64(encode(source)), '=') AS b64,
              source AS rt
       FROM documents WHERE doc_id < 100 ORDER BY doc_id""")(
    """SELECT doc_id,
              array::join(object::keys({ k: doc_id, src: source }), ',') AS ks,
              object::len({ k: doc_id, src: source }) AS kl,
              encoding::base64::encode(<bytes> source) AS b64,
              <string> encoding::base64::decode(encoding::base64::encode(<bytes> source)) AS rt
       FROM documents WHERE doc_id < 100 ORDER BY doc_id""")

  /** Chained graph traversal `->e->t<-e<-t` (multi-hop GraphEdgeScan): each
    * hop pair is one more equi-join on the reached id; the walk flatMaps and
    * keeps duplicates (a co-supplier reached through two shared parts
    * appears twice), which the oracle reproduces with a self-join on the
    * distinct supplier→part pair set. */
  val graphChain = sq("graph_chain",
    """WITH sp AS (SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
       res AS (
         SELECT a.s AS start,
                array_to_string(list(b.s ORDER BY b.s), ',') AS cosup
         FROM sp a JOIN sp b ON a.p = b.p
         GROUP BY a.s)
       SELECT s_suppkey, coalesce(r.cosup, '') AS cosup
       FROM supplier LEFT JOIN res r ON r.start = s_suppkey
       WHERE s_suppkey >= 1 AND s_suppkey < 4 ORDER BY s_suppkey""")(
    """SELECT s_suppkey,
              array::join(->supplies->part<-supplies<-supplier, ',') AS cosup
       FROM supplier:1..4 ORDER BY s_suppkey""")

  /** Chained traversal ending in a field projection: two `next_order` hops
    * reach each order's grand-successor, whose date the oracle derives with
    * a double window lead. */
  val graphChainField = sq("graph_chain_field",
    """WITH seq AS (
         SELECT o_orderkey,
                lead(o_orderkey, 2) OVER (PARTITION BY o_custkey
                                          ORDER BY o_orderdate, o_orderkey) AS nxt2
         FROM orders),
       res AS (
         SELECT s.o_orderkey AS start, CAST(o.o_orderdate AS VARCHAR) AS d
         FROM seq s JOIN orders o ON o.o_orderkey = s.nxt2)
       SELECT o.o_orderkey, coalesce(r.d, '') AS next2_date
       FROM orders o LEFT JOIN res r ON r.start = o.o_orderkey
       WHERE o.o_orderkey >= 1 AND o.o_orderkey < 51
       ORDER BY o.o_orderkey""")(
    """SELECT o_orderkey,
              array::join(->next_order->orders->next_order->orders.o_orderdate, ',') AS next2_date
       FROM orders:1..51 ORDER BY o_orderkey""")

  /** `+path` recursion (recursion/path.rs): every complete traversal path
    * as an array of arrays. The `next_order` graph is a per-customer linear
    * chain, so each start yields exactly one path — the next ≤4 orders in
    * CHAIN order (not key order) — which the oracle enumerates by window
    * rank; flatten+join scalarizes the nested array for the comparator. */
  val recursionPath = sq("recursion_path",
    """WITH seq AS (
         SELECT o_orderkey, o_custkey,
                row_number() OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate, o_orderkey) AS rn
         FROM orders),
       res AS (
         SELECT a.o_orderkey AS start,
                array_to_string(list(b.o_orderkey ORDER BY b.rn), ',') AS path
         FROM seq a JOIN seq b
           ON a.o_custkey = b.o_custkey AND b.rn > a.rn AND b.rn <= a.rn + 4
         GROUP BY a.o_orderkey)
       SELECT o.o_orderkey, coalesce(r.path, '') AS path
       FROM orders o LEFT JOIN res r ON r.start = o.o_orderkey
       WHERE o.o_orderkey >= 1 AND o.o_orderkey < 51
       ORDER BY o.o_orderkey""")(
    """SELECT o_orderkey,
              array::join(array::flatten(@{1..4+path}(->next_order->orders)), ',') AS path
       FROM orders:1..51 ORDER BY o_orderkey""")

  /** VERSION time travel (exec/operators/version_scope.rs:25): the scan
    * resolves to the latest snapshot parquet at-or-before the requested
    * instant — see [[graft.operators.VersionStore]]. The fixture snapshot
    * (orders as of 1997-01-01: only orders placed before then) is
    * materialized idempotently; the oracle replays the snapshot's defining
    * filter on the live table. */
  val versionScope = Q("version_scope",
    """SELECT o_orderkey, o_totalprice FROM orders
       WHERE o_orderdate < TIMESTAMP '1997-01-01' ORDER BY o_orderkey""") { (s, d) =>
    graft.operators.VersionStore.ensureSnapshot(s, d, "orders", "1997-01-01T00:00:00Z")(
      _.filter(col("o_orderdate") < org.apache.spark.sql.functions.lit("1997-01-01")
        .cast("timestamp")))
    SparkPlanner.query(s, d,
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_orderkey VERSION d'1997-06-01T00:00:00Z'""")
  }

  /** OMIT — column-set subtraction from `SELECT *` output
    * (expr/statements/select.rs omit clause). */
  val omitFields = sq("omit_fields",
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority
       FROM orders WHERE o_orderkey >= 1 AND o_orderkey < 30
       ORDER BY o_orderkey""")(
    "SELECT * OMIT o_totalprice, o_orderdate FROM orders:1..30 ORDER BY o_orderkey")

  /** Breadth batch of scalar namespaces on the Spark path (fnc/time.rs
    * floor-to-duration, fnc/string.rs slug/words, fnc/array.rs
    * append/max, fnc/math.rs clamp/lerp) — all codegen'd column
    * expressions, no UDFs. */
  val fnBreadth = sq("fn_breadth",
    """SELECT o_orderkey,
              CAST(floor(epoch(o_orderdate) / 604800) * 604800 AS BIGINT) AS wk,
              regexp_replace(regexp_replace(lower(o_orderpriority),
                '[^a-z0-9]+', '-', 'g'), '(^-+)|(-+$)', '', 'g') AS slug,
              greatest(o_orderkey, o_custkey) AS mx,
              least(greatest(o_totalprice, 1000.0), 200000.0) AS clamped,
              len(regexp_split_to_array(trim(o_orderpriority), '\s+')) AS nw
       FROM orders WHERE o_orderkey >= 1 AND o_orderkey < 50
       ORDER BY o_orderkey""")(
    """SELECT o_orderkey,
              time::unix(time::floor(o_orderdate, 1w)) AS wk,
              string::slug(o_orderpriority) AS slug,
              array::max([o_orderkey, o_custkey]) AS mx,
              math::clamp(o_totalprice, 1000.0, 200000.0) AS clamped,
              array::len(string::words(o_orderpriority)) AS nw
       FROM orders:1..50 ORDER BY o_orderkey""")

  /** Second breadth batch: string repeat/pad/matches, ISO calendar parts,
    * log-family math, and positional array edits — all codegen'd. */
  val fnBreadth2 = sq("fn_breadth2",
    """SELECT o_orderkey,
              repeat(o_orderstatus, 3) AS r3,
              reverse(o_orderpriority) AS rev,
              regexp_matches(o_orderpriority, '^[0-9]-') AS m,
              CAST(isodow(o_orderdate) AS BIGINT) AS wd,
              CAST(week(o_orderdate) AS BIGINT) AS wk,
              CAST(dayofyear(o_orderdate) AS BIGINT) AS yd,
              round(ln(o_totalprice), 6) AS lg,
              '1,3,4' AS rm, '1,9,2,3' AS ins
       FROM orders WHERE o_orderkey >= 1 AND o_orderkey < 40
       ORDER BY o_orderkey""")(
    """SELECT o_orderkey,
              string::repeat(o_orderstatus, 3) AS r3,
              string::reverse(o_orderpriority) AS rev,
              string::matches(o_orderpriority, '^[0-9]-') AS m,
              time::wday(o_orderdate) AS wd,
              time::week(o_orderdate) AS wk,
              time::yday(o_orderdate) AS yd,
              math::fixed(math::ln(o_totalprice), 6) AS lg,
              array::join(array::remove([1,2,3,4], 1), ',') AS rm,
              array::join(array::insert([1,2,3], 9, 1), ',') AS ins
       FROM orders:1..40 ORDER BY o_orderkey""")

  /** INFO FOR DB / TABLE (expr/statements/info.rs): catalog introspection
    * rendered as rows; the field kinds come from the parquet schema — the
    * schemafull table definition this engine derives. */
  val infoDb = Q("info_db",
    """SELECT * FROM (VALUES ('customer','TABLE'),('documents','TABLE'),
         ('embeddings','TABLE'),('events','TABLE'),('lineitem','TABLE'),
         ('nation','TABLE'),('orders','TABLE'),('part','TABLE'),
         ('region','TABLE'),('supplier','TABLE')) t(name, kind)
       ORDER BY name""") { (s, d) =>
    SparkPlanner.query(s, d, "INFO FOR DB").orderBy("name")
  }

  val infoTable = Q("info_table",
    """SELECT * FROM (VALUES ('o_orderkey','int'),('o_custkey','int'),
         ('o_orderstatus','string'),('o_totalprice','float'),
         ('o_orderdate','datetime'),('o_orderpriority','string')) t(name, kind)
       ORDER BY name""") { (s, d) =>
    SparkPlanner.query(s, d, "INFO FOR TABLE orders").orderBy("name")
  }

  /** Multi-statement transaction scripts (BEGIN…COMMIT,
    * expr/statements/begin.rs): each mutation rewrites its table in the
    * script overlay and later statements read through it — the whole
    * transaction composes into one lazy Catalyst plan (atomic by
    * construction). The oracle replays the same statement chain as CTEs. */
  val scriptTxn = Q("script_txn",
    """WITH s1 AS (
         SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
                CASE WHEN o_orderkey >= 1 AND o_orderkey < 51
                      AND o_totalprice > 150000.0
                     THEN 'X-HIGH' ELSE o_orderpriority END AS o_orderpriority
         FROM orders),
       s2 AS (SELECT * FROM s1 WHERE NOT (o_orderkey >= 40 AND o_orderkey < 46)),
       s3 AS (SELECT * FROM s2
              UNION ALL
              SELECT 900001, 1, 'O', 123.45, NULL, '1-URGENT')
       SELECT o_orderkey, o_orderpriority, o_totalprice
       FROM s3 WHERE o_orderkey < 60 OR o_orderkey = 900001
       ORDER BY o_orderkey""") { (s, d) =>
    SparkPlanner.script(s, d,
      """BEGIN;
         UPDATE orders:1..51 SET o_orderpriority = 'X-HIGH'
           WHERE o_totalprice > 150000.0;
         DELETE orders:40..46;
         CREATE orders:900001 SET o_custkey = 1, o_orderstatus = 'O',
           o_totalprice = 123.45, o_orderpriority = '1-URGENT';
         SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
           WHERE o_orderkey < 60 OR o_orderkey = 900001 ORDER BY o_orderkey;
         COMMIT;""")
  }

  /** Bare-table UPSERT, both arms (expr/statements/upsert.rs; Interp
    * execUpsert): a matching WHERE updates the rows, an empty match
    * creates ONE generated-id record — the generated key is random, so
    * the oracle observes the non-id columns only. */
  val upsertBare = Q("upsert_bare",
    """WITH s1 AS (
         SELECT CASE WHEN o_totalprice > 400000.0 THEN 'BULKP'
                     ELSE o_orderpriority END AS o_orderpriority
         FROM orders),
       s2 AS (SELECT o_orderpriority FROM s1 UNION ALL SELECT 'FRESH')
       SELECT o_orderpriority, count(*) AS n FROM s2
       WHERE o_orderpriority IN ('BULKP', 'FRESH')
       GROUP BY 1 ORDER BY 1""") { (s, d) =>
    SparkPlanner.script(s, d,
      """BEGIN;
         UPSERT orders SET o_orderpriority = 'BULKP' WHERE o_totalprice > 400000.0;
         UPSERT orders SET o_custkey = 7, o_orderstatus = 'N',
           o_totalprice = 77.5, o_orderpriority = 'FRESH' WHERE o_orderkey = -1;
         SELECT o_orderpriority, count() AS n FROM orders
           WHERE o_orderpriority = 'BULKP' OR o_orderpriority = 'FRESH'
           GROUP BY o_orderpriority ORDER BY o_orderpriority;
         COMMIT;""")
  }

  /** ON DELETE UNSET referential action (expr/reference.rs
    * ReferenceDeleteStrategy::Unset): deleting customers null-outs the
    * orders that referenced them — one left join against the deleted key
    * set, no per-row work. */
  val refOnDelete = Q("ref_on_delete",
    """SELECT count(*) AS n FROM orders
       WHERE o_custkey NOT IN
         (SELECT c_custkey FROM customer WHERE c_nationkey = 7)""") { (s, d) =>
    SparkPlanner.script(s, d,
      """BEGIN;
         DEFINE FIELD o_custkey ON orders REFERENCE ON DELETE UNSET;
         DELETE customer WHERE c_nationkey = 7;
         SELECT count() AS n FROM orders WHERE o_custkey != NONE GROUP ALL;
         COMMIT;""")
  }

  /** ON DELETE CASCADE referential action (expr/reference.rs
    * ReferenceDeleteStrategy::Cascade): deleting customers deletes their
    * orders — one anti-join per cascade level. */
  val refCascade = Q("ref_cascade",
    """SELECT count(*) AS n FROM orders
       WHERE o_custkey NOT IN
         (SELECT c_custkey FROM customer WHERE c_nationkey = 3)""") { (s, d) =>
    SparkPlanner.script(s, d,
      """BEGIN;
         DEFINE FIELD o_custkey ON orders REFERENCE ON DELETE CASCADE;
         DELETE customer WHERE c_nationkey = 3;
         SELECT count() AS n FROM orders GROUP ALL;
         COMMIT;""")
  }

  /** Bulk INSERT (+ ON DUPLICATE KEY UPDATE) inside a script: the second
    * insert's sub-select reads THROUGH the overlay (its filter excludes the
    * first insert's rows), its duplicate arm updates the rows the first
    * insert created, and its fresh arm appends the rest — MERGE semantics
    * composed across statements (expr/statements/insert.rs). */
  val scriptInsert = Q("script_insert",
    """SELECT o_orderkey + 500000 AS o_orderkey,
              CASE WHEN o_orderkey < 20 THEN 'DUP'
                   ELSE o_orderpriority END AS o_orderpriority
       FROM orders WHERE o_orderkey < 40 ORDER BY o_orderkey""") { (s, d) =>
    SparkPlanner.script(s, d,
      """BEGIN;
         INSERT INTO orders (SELECT o_orderkey + 500000 AS o_orderkey, o_custkey,
           o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
           FROM orders WHERE o_orderkey < 20);
         INSERT INTO orders (SELECT o_orderkey + 500000 AS o_orderkey, o_custkey,
           o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
           FROM orders WHERE o_orderkey < 40)
           ON DUPLICATE KEY UPDATE o_orderpriority = 'DUP';
         SELECT o_orderkey, o_orderpriority FROM orders
           WHERE o_orderkey >= 500000 ORDER BY o_orderkey;
         COMMIT;""")
  }

  /** `type::record` dynamic record-id targets (fnc/type.rs record:
    * constant args resolve at plan time) and MERGE partial-object mutation
    * data (doc/alter.rs merge arm). */
  val mutMergeThing = Q("mut_merge_thing",
    """SELECT o_orderkey,
              CASE WHEN o_orderkey = 3 THEN 'MERGED'
                   ELSE o_orderpriority END AS o_orderpriority
       FROM orders WHERE o_orderkey >= 1 AND o_orderkey < 6
       ORDER BY o_orderkey""") { (s, d) =>
    SparkPlanner.script(s, d,
      """UPDATE type::record('orders:3') MERGE { o_orderpriority: 'MERGED' };
         SELECT o_orderkey, o_orderpriority FROM orders:1..6 ORDER BY o_orderkey;""")
  }

  /** Link dereference inside GROUP BY (Fetch + Aggregate composition): the
    * group key is a record-link field — one broadcast dim join feeding a
    * map-side-combined aggregate, the canonical star-schema rollup shape. */
  val linkGroup = sq("link_group",
    s"""SELECT c.c_mktsegment AS seg, COUNT(*) AS n,
               ${Exact.sqlSum("o.o_totalprice")} AS rev
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1 ORDER BY seg""")(
    """SELECT o_custkey.c_mktsegment AS seg, count() AS n,
              math::sum(o_totalprice) AS rev
       FROM orders GROUP BY seg ORDER BY seg""")

  /** time/duration breadth: leap years, epoch unit conversions, timezone. */
  val fnTime2 = sq("fn_time2",
    """SELECT o_orderkey,
              (year(o_orderdate) % 4 = 0 AND year(o_orderdate) % 100 <> 0)
                OR year(o_orderdate) % 400 = 0 AS leap,
              epoch_ms(o_orderdate) AS ms,
              CAST(epoch_ms(o_orderdate) * 1000 AS BIGINT) AS us,
              'UTC' AS tz,
              CAST(2 AS BIGINT) AS wks, CAST(3600000 AS BIGINT) AS msx
       FROM orders WHERE o_orderkey >= 1 AND o_orderkey < 20
       ORDER BY o_orderkey""")(
    """SELECT o_orderkey,
              time::is_leap_year(o_orderdate) AS leap,
              time::millis(o_orderdate) AS ms,
              time::micros(o_orderdate) AS us,
              time::timezone() AS tz,
              duration::weeks(duration::from_days(14)) AS wks,
              duration::millis(duration::from_hours(1)) AS msx
       FROM orders:1..20 ORDER BY o_orderkey""")

  /** Vector namespace batch 2 (fnc/vector.rs): element-wise algebra,
    * normalize/angle/cross/project, hamming/minkowski distances, jaccard —
    * all zip_with/transform lambdas or the native fold kernels. */
  val vectorOps2 = sq("vector_ops2",
    """SELECT o_orderkey,
              '5,7,9' AS ad, '-3,-3,-3' AS sb, '4,10,18' AS ml,
              '2f,3f' AS dv,
              3.0 / 5.0 AS nz, round(acos(0.0), 6) AS an,
              '0,0,1' AS cx, 1 AS hm,
              CAST(7.0 AS DOUBLE) AS mk, CAST(0.5 AS DOUBLE) AS jc
       FROM orders WHERE o_orderkey >= 1 AND o_orderkey < 5
       ORDER BY o_orderkey""")(
    """SELECT o_orderkey,
              array::join(vector::add([1,2,3], [4,5,6]), ',') AS ad,
              array::join(vector::subtract([1,2,3], [4,5,6]), ',') AS sb,
              array::join(vector::multiply([1,2,3], [4,5,6]), ',') AS ml,
              array::join(vector::divide([4.0,9.0], [2.0,3.0]), ',') AS dv,
              array::at(vector::normalize([3.0,4.0]), 0) AS nz,
              math::fixed(vector::angle([1.0,0.0], [0.0,1.0]), 6) AS an,
              array::join(vector::cross([1,0,0], [0,1,0]), ',') AS cx,
              vector::distance::hamming([1,2,3], [1,9,3]) AS hm,
              vector::distance::minkowski([0.0,0.0], [3.0,4.0], 1) AS mk,
              vector::similarity::jaccard([1,2,3], [2,3,4]) AS jc
       FROM orders:1..5 ORDER BY o_orderkey""")

  /** String namespace batch 2 (fnc/string.rs): join, unicode character-
    * class predicates, semver components. */
  val fnString2 = sq("fn_string2",
    """SELECT o_orderkey,
              o_orderstatus || '-' || o_orderpriority AS j,
              regexp_matches(o_orderstatus, '^[A-Za-z]+$') AS ia,
              regexp_matches(o_orderstatus, '^[0-9]+$') AS inm,
              TRUE AS ias,
              regexp_matches(o_orderstatus, '^[A-Za-z0-9]+$') AS ian,
              regexp_matches(o_orderstatus, '^[0-9a-fA-F]+$') AS ih,
              1 AS smj, 2 AS smn, 3 AS smp
       FROM orders WHERE o_orderkey >= 1 AND o_orderkey < 20
       ORDER BY o_orderkey""")(
    """SELECT o_orderkey,
              string::join('-', o_orderstatus, o_orderpriority) AS j,
              string::is_alpha(o_orderstatus) AS ia,
              string::is_numeric(o_orderstatus) AS inm,
              string::is_ascii(o_orderpriority) AS ias,
              string::is_alphanum(o_orderstatus) AS ian,
              string::is_hexadecimal(o_orderstatus) AS ih,
              string::semver::major('1.2.3') AS smj,
              string::semver::minor('1.2.3-alpha') AS smn,
              string::semver::patch('1.2.3') AS smp
       FROM orders:1..20 ORDER BY o_orderkey""")

  /** Array namespace batch 2 (fnc/array.rs): windows/clump/combine, the
    * set-algebra family, range/repeat/fill, positional lookups — all
    * codegen'd array expressions over plan-time-constant inputs whose
    * oracle is the literal expected rendering. */
  val fnArray2 = sq("fn_array2",
    """SELECT o_orderkey,
              '1,2,2,3,3,4' AS win, '1,2,3,4,5' AS cl, '1,2,3,4' AS un,
              '2,3' AS it, '1,4' AS df, '1,3' AS cp, '5,6,7' AS rg,
              'x,x,x' AS rp, 9 AS lst, 1 AS io, '1,2' AS ad,
              '1,9,1,8' AS cb, 'z,z' AS fl
       FROM orders WHERE o_orderkey >= 1 AND o_orderkey < 3
       ORDER BY o_orderkey""")(
    """SELECT o_orderkey,
              array::join(array::flatten(array::windows([1,2,3,4], 2)), ',') AS win,
              array::join(array::flatten(array::clump([1,2,3,4,5], 2)), ',') AS cl,
              array::join(array::union([1,2,3], [3,4]), ',') AS un,
              array::join(array::intersect([1,2,3], [2,3,5]), ',') AS it,
              array::join(array::difference([1,2,3], [2,3,4]), ',') AS df,
              array::join(array::complement([1,2,3], [2]), ',') AS cp,
              array::join(array::range(5, 8), ',') AS rg,
              array::join(array::repeat('x', 3), ',') AS rp,
              array::last([1,2,9]) AS lst,
              array::index_of([7,8,9], 8) AS io,
              array::join(array::add([1,2], 2), ',') AS ad,
              array::join(array::flatten(array::combine([1], [9, 8])), ',') AS cb,
              array::join(array::fill(['a','b'], 'z'), ',') AS fl
       FROM orders:1..3 ORDER BY o_orderkey""")

  /** Method-call idioms (expr/part.rs Method): the receiver's schema type
    * picks the namespace, so `.lowercase()` on a string column is
    * string::lowercase and `.len()` on a graph-hop array is array::len. */
  val idiomMethods = sq("idiom_methods",
    """SELECT o_orderkey, lower(o_orderpriority) AS lp,
              CAST(length(o_orderpriority) AS BIGINT) AS n,
              CAST(abs(o_custkey) AS BIGINT) AS ak
       FROM orders WHERE o_orderkey >= 1 AND o_orderkey < 30
       ORDER BY o_orderkey""")(
    """SELECT o_orderkey, o_orderpriority.lowercase() AS lp,
              o_orderpriority.len() AS n, o_custkey.abs() AS ak
       FROM orders:1..30 ORDER BY o_orderkey""")

  /** Imperative control flow in scripts (expr/statements/foreach.rs,
    * ifelse.rs): LET binds plan-time constants that substitute into later
    * statements, FOR iterates a constant collection running its block's
    * mutations against the overlay, IF executes only the taken branch.
    * Control flow is driver-side; every iteration's mutation is still a
    * distributed plan rewrite. */
  val scriptFor = Q("script_for",
    """SELECT o_orderkey,
              CASE WHEN o_orderkey IN (1,2,3,5,8) THEN o_totalprice + 5.0
                   ELSE o_totalprice END AS o_totalprice,
              CASE WHEN o_orderkey = 1 THEN 'BUMPED'
                   ELSE o_orderpriority END AS o_orderpriority
       FROM orders WHERE o_orderkey >= 1 AND o_orderkey < 10
       ORDER BY o_orderkey""") { (s, d) =>
    SparkPlanner.script(s, d,
      """LET $bump = 5.0;
         FOR $k IN [1, 2, 3, 5, 8] {
           UPDATE orders SET o_totalprice = o_totalprice + $bump
             WHERE o_orderkey = $k;
         };
         IF $bump > 1 {
           UPDATE orders SET o_orderpriority = 'BUMPED' WHERE o_orderkey = 1;
         };
         SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders:1..10
           ORDER BY o_orderkey;""")
  }

  /** CANCEL discards every write since BEGIN (expr/statements/cancel.rs):
    * the post-cancel SELECT must see the untouched base table. */
  val scriptCancel = Q("script_cancel",
    """SELECT o_orderkey, o_orderpriority FROM orders
       WHERE o_orderkey >= 1 AND o_orderkey < 20 ORDER BY o_orderkey""") { (s, d) =>
    SparkPlanner.script(s, d,
      """BEGIN;
         UPDATE orders SET o_orderpriority = 'NOPE';
         CANCEL;
         SELECT o_orderkey, o_orderpriority FROM orders:1..20 ORDER BY o_orderkey;""")
  }

  /** DEFINE FIELD enforcement on the Spark path (doc/field.rs): the VALUE
    * clause recomputes every written o_orderpriority (uppercased), TYPE
    * float casts the CREATE's integer price, ASSERT guards (passing) run as
    * per-row raise_error conditions inside the mutation projection, and
    * DEFAULT fills the CREATE's omitted o_orderstatus — all enforced
    * DISTRIBUTED in the composed script plan, no driver-side row loop. */
  val scriptSchema = Q("script_schema",
    """WITH upd AS (
         SELECT o_orderkey, o_orderstatus,
                CASE WHEN o_orderkey >= 1 AND o_orderkey < 31
                     THEN 'LOW-KEY' ELSE o_orderpriority END AS o_orderpriority,
                o_totalprice
         FROM orders),
       allr AS (SELECT * FROM upd
                UNION ALL SELECT 910001, 'N', '1-URGENT', 10.0)
       SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice
       FROM allr WHERE o_orderkey < 31 OR o_orderkey = 910001
       ORDER BY o_orderkey""") { (s, d) =>
    SparkPlanner.script(s, d,
      """BEGIN;
         DEFINE FIELD o_orderpriority ON orders VALUE string::uppercase($value);
         DEFINE FIELD o_totalprice ON orders TYPE float ASSERT $value >= 0;
         DEFINE FIELD o_orderstatus ON orders DEFAULT 'N';
         UPDATE orders:1..31 SET o_orderpriority = 'low-key';
         CREATE orders:910001 SET o_custkey = 7, o_totalprice = 10,
           o_orderpriority = '1-urgent';
         SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice
           FROM orders WHERE o_orderkey < 31 OR o_orderkey = 910001
           ORDER BY o_orderkey;
         COMMIT;""")
  }

  /** DEFINE FIELD … COMPUTED on the Spark path: a read-time projection
    * (Interp withComputed / doc compute stage) re-applied after dependency
    * writes — the UPDATE bumps p_retailprice and the computed margin
    * follows it. */
  val scriptComputed = Q("script_computed",
    """WITH upd AS (
         SELECT p_partkey,
                CASE WHEN p_partkey >= 1 AND p_partkey < 51
                     THEN p_retailprice + 100.0 ELSE p_retailprice END
                  AS p_retailprice
         FROM part)
       SELECT p_partkey, p_retailprice,
              p_retailprice * 0.1 AS margin
       FROM upd WHERE p_partkey < 80 ORDER BY p_partkey""") { (s, d) =>
    SparkPlanner.script(s, d,
      """BEGIN;
         DEFINE FIELD margin ON part COMPUTED p_retailprice * 0.1;
         UPDATE part:1..51 SET p_retailprice = p_retailprice + 100.0;
         SELECT p_partkey, p_retailprice, margin FROM part
           WHERE p_partkey < 80 ORDER BY p_partkey;
         COMMIT;""")
  }

  /** DEFINE INDEX … UNIQUE on the Spark path (idx/index.rs index_unique):
    * the DDL probes existing rows for duplicates (index build), and the
    * CREATE's write check joins only the TOUCHED key values against the
    * after-state — index-lookup-shaped, proportional to the write set, not
    * the table. */
  val scriptUnique = Q("script_unique",
    """SELECT o_orderkey, o_custkey FROM (
         SELECT o_orderkey, o_custkey FROM orders
         UNION ALL SELECT 920001, 3)
       WHERE o_orderkey > 919000 ORDER BY o_orderkey""") { (s, d) =>
    SparkPlanner.script(s, d,
      """BEGIN;
         DEFINE INDEX ord_key_uniq ON orders FIELDS o_orderkey UNIQUE;
         CREATE orders:920001 SET o_custkey = 3, o_orderstatus = 'O',
           o_totalprice = 55.5, o_orderpriority = '3-medium';
         SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey > 919000
           ORDER BY o_orderkey;
         COMMIT;""")
  }

  /** DEFINE EVENT triggers on the Spark path (doc/event.rs): the mutation's
    * change-feed diff binds `$event`/`$before`/`$after` per changed record,
    * WHEN gates distributively, and the THEN CREATE creates one record per
    * fired change in the target table through the create arm every new
    * record takes — set-at-a-time trigger execution inside the same script
    * transaction. The oracle replays the
    * trigger as a projection of the rows the UPDATE actually changed. */
  val defineEvent = Q("define_event",
    """SELECT o_orderkey + 9000000 AS event_id, o_custkey AS user_id,
              'order_update' AS event_type, o_totalprice + 10.0 AS value
       FROM orders
       WHERE o_orderkey >= 1 AND o_orderkey < 30 AND o_orderstatus = 'O'
       ORDER BY event_id""") { (s, d) =>
    SparkPlanner.script(s, d,
      """DEFINE EVENT order_audit ON TABLE orders WHEN $event = 'UPDATE' THEN (
           CREATE events SET event_id = $after.o_orderkey + 9000000,
             user_id = $after.o_custkey, event_type = 'order_update',
             value = $after.o_totalprice, props = '{}');
         UPDATE orders:1..30 SET o_totalprice = o_totalprice + 10.0
           WHERE o_orderstatus = 'O';
         SELECT event_id, user_id, event_type, value FROM events
           WHERE event_type = 'order_update' ORDER BY event_id;""")
  }

  /** EXPLAIN on the Spark path surfaces the Catalyst plan the SurrealQL
    * lowered to. Plan text is engine-specific by nature, so the oracle pins
    * the SHAPE assertions that matter at scale instead: the filter survives
    * into the optimized plan, the limit+sort stays a bounded top-k (no
    * unbounded global sort materialization), the scan is a parquet relation,
    * and nothing degenerated into a cartesian product. */
  val explainSpark = Q("explain_spark",
    """SELECT CAST(true AS BOOLEAN) AS has_filter,
              CAST(true AS BOOLEAN) AS has_limit,
              CAST(true AS BOOLEAN) AS has_parquet_scan,
              CAST(false AS BOOLEAN) AS has_cartesian""") { (s, d) =>
    val plan = SparkPlanner.query(s, d,
      """EXPLAIN SELECT o_orderkey, o_totalprice FROM orders
         WHERE o_totalprice > 100000.0 ORDER BY o_orderkey LIMIT 10""")
    plan.agg(
      bool_or(col("operator").contains("Filter") &&
        col("operator").contains("o_totalprice")).as("has_filter"),
      bool_or(col("operator").contains("Limit 10")).as("has_limit"),
      bool_or(col("operator").contains("parquet")).as("has_parquet_scan"),
      bool_or(col("operator").contains("Cartesian")).as("has_cartesian"))
  }

  /** ALTER ANALYZER + REBUILD INDEX on the Spark script path
    * (expr/statements/alter/analyzer.rs, rebuild.rs): the script defines a
    * SEARCH index, alters the analyzer chain to add edgengram(3,3), forces
    * the postings rebuild, and a `@@` prefix query reflects the NEW chain.
    * The oracle replays the final chain in SQL: a doc matches iff any
    * blank-token's lowercase 3-char prefix equals the query term. */
  val scriptAlterAnalyzer = sq("script_alter_analyzer",
    """SELECT doc_id FROM (
         SELECT doc_id, unnest(string_split(trim(lower(text)), ' ')) AS term
         FROM documents)
       WHERE substring(term, 1, 3) = 'mer'
       GROUP BY doc_id ORDER BY doc_id""")(
    """DEFINE ANALYZER ed16 TOKENIZERS blank FILTERS lowercase;
       DEFINE INDEX ft16 ON documents FIELDS text SEARCH ANALYZER ed16 BM25;
       ALTER ANALYZER ed16 TOKENIZERS blank FILTERS lowercase, edgengram(3, 3);
       REBUILD INDEX ft16 ON documents;
       SELECT doc_id FROM documents WHERE text @@ 'mer' ORDER BY doc_id;""")

  /** DEFINE FUNCTION on the Spark script path (define/function.rs): a user
    * fn:: with an expression body macro-inlines at plan time — the call
    * costs nothing at runtime (it IS the substituted expression inside
    * whole-stage codegen). The oracle replays the arithmetic directly. */
  val scriptDefineFunction = sq("script_define_function",
    """SELECT o_orderkey, round(o_totalprice * 1.08 + 5.0, 4) AS taxed,
              round(o_totalprice * 0.08 + (o_totalprice * 0.08 + 2.0), 4) AS fees
       FROM orders WHERE o_orderkey < 100 ORDER BY o_orderkey""")(
    """DEFINE FUNCTION fn::taxed($p: number) { RETURN math::fixed($p * 1.08 + 5.0, 4) };
       DEFINE FUNCTION fn::fees($p: number) {
         LET $tax = $p * 0.08;
         LET $tot = $tax + 2.0;
         RETURN math::fixed($tax + $tot, 4)
       };
       SELECT o_orderkey, fn::taxed(o_totalprice) AS taxed,
              fn::fees(o_totalprice) AS fees FROM orders
       WHERE o_orderkey < 100 ORDER BY o_orderkey;""")

  /** record::* / meta::* / session::* on the Spark path (fnc/record.rs,
    * fnc/session.rs): record ids travel as `table:key` strings, so the
    * accessors are codegen'd string splits; session ns/db are catalog-bound
    * statics — the same defaults the interpreter path exposes. */
  val fnRecordMeta = sq("fn_record_meta",
    """SELECT 'item:' || i AS id, 'item' AS tb, CAST(i AS STRING) AS k,
              'test' AS db, TRUE AS ex
       FROM generate_series(1, 5) AS t(i) ORDER BY id""")(
    """SELECT id, record::tb(id) AS tb, record::id(id) AS k,
              session::db() AS db, record::exists(id) AS ex
       FROM |item:5| ORDER BY id""")

  /** CurrentValueSource / `$parent` correlation
    * (exec/operators/current_value_source.rs:19): the reference re-executes
    * the projection subquery per outer record with the outer document bound
    * as current_value. This path decorrelates each distinct subquery to ONE
    * grouped aggregate + key join (see SparkPlanner's correlated-subquery
    * pre-pass) — per-row semantics, set-at-a-time execution. The two
    * subqueries here share one join (structural dedup); l_quantity is
    * integral-valued so the double sums are order-exact. */
  val subqueryParent = sq("subquery_parent",
    """SELECT o_orderkey,
              (SELECT CAST(COALESCE(SUM(l_quantity), 0) AS DOUBLE)
                 FROM lineitem WHERE l_orderkey = o_orderkey) AS qty,
              (SELECT COUNT(*) FROM lineitem
                WHERE l_orderkey = o_orderkey) AS n_items,
              (SELECT CAST(COALESCE(SUM(l_quantity), 0) AS DOUBLE)
                 FROM lineitem
                WHERE l_orderkey = o_orderkey AND l_quantity > 25) AS qty_high
       FROM orders WHERE o_orderkey >= 1 AND o_orderkey < 201
       ORDER BY o_orderkey""")(
    """SELECT o_orderkey,
              math::sum((SELECT VALUE l_quantity FROM lineitem
                          WHERE l_orderkey = $parent.o_orderkey)) AS qty,
              array::len((SELECT VALUE l_quantity FROM lineitem
                           WHERE l_orderkey = $parent.o_orderkey)) AS n_items,
              math::sum((SELECT VALUE l_quantity FROM lineitem
                          WHERE l_orderkey = $parent.o_orderkey
                            AND l_quantity > 25)) AS qty_high
       FROM orders:1..201 ORDER BY o_orderkey""")

  /** TIMEOUT enforcement (exec/operators/timeout.rs:25): the plan executes
    * under a job group a watchdog can cancel; a generous budget keeps the
    * row green (the 1ns-trips-it path is asserted in SurqlSpec). */
  val timeoutScope = sq("timeout_scope",
    "SELECT COUNT(*) AS cnt FROM lineitem")(
    "SELECT count() AS cnt FROM lineitem GROUP ALL TIMEOUT 5m")

  /** PERMISSIONS enforcement on the Spark path (scan/resolved.rs:29): a
    * record-auth session whose SELECT permission on orders restricts reads
    * to the authenticated customer's own rows ($auth bound at plan time)
    * and prunes customer entirely (NONE). The permission clause becomes one
    * more pushed filter on the parquet scan — PlanSpec pins pushdown. */
  val permScan = Q("perm_scan",
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
       WHERE o_custkey = 42 AND o_totalprice > 1000.0 ORDER BY o_orderkey""") {
    (s, d) =>
      SparkPlanner.withAuth(SparkPlanner.AuthSession(
        graft.surql.VInt(42),
        Map("orders" -> "WHERE o_custkey = $auth", "customer" -> "NONE"))) {
        SparkPlanner.query(s, d,
          """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
             WHERE o_totalprice > 1000.0 ORDER BY o_orderkey""")
      }
  }

  /** NONE permission prunes the table: the same session sees zero customer
    * rows regardless of predicates (reference prunes the scan entirely). */
  val permNone = Q("perm_none",
    "SELECT c_custkey, c_name FROM customer WHERE 1 = 0") { (s, d) =>
      SparkPlanner.withAuth(SparkPlanner.AuthSession(
        graft.surql.VInt(42),
        Map("orders" -> "WHERE o_custkey = $auth", "customer" -> "NONE"))) {
        SparkPlanner.query(s, d, "SELECT c_custkey, c_name FROM customer")
      }
  }

  val all: Seq[Q] = Seq(
    permScan, permNone,
    tableScan, pointLookup, rangeScan, countAll, exprScalar, filterWhere,
    projectExpr, projectValue, unionOrFilter, splitExplode, sortMulti, topK,
    limitStart, onlyOne, aggGroup, aggGlobal, distinctScan, subqueryIn,
    subqueryNotIn, fnMath, fnTime,
    graphOneHop, graphTwoHop, referenceScan, fetchJoin, unionFrom,
    fnString, fnArray, fnCast, fnAggStats, fnCrypto, fnSet, fnObjectEncoding, fnTypeIs,
    gqlQuery, gqlVars,
    graphArrow, graphArrowRev, graphArrowCond, graphArrowField,
    graphChain, graphChainField,
    fulltextBm25, knnBruteText, knnAnnText, knnAnnFiltered, knnNoindex, sortCollate, sortNumeric,
    mutUpdateSet, mutDeleteBefore, mutCreate, mutCreateOne, mutUpsert,
    mutUpsertPoint, mutRelateStmt, mutChangefeed, mutRelate, fnConditional,
    dynamicScan, mockSource, orderRand, fnRand, versionScope, timeoutScope,
    subqueryParent, fnRecordMeta, scriptTxn, scriptCancel, scriptInsert, upsertBare, refOnDelete, refCascade,
    scriptSchema, scriptUnique, scriptComputed, scriptAlterAnalyzer,
    scriptDefineFunction,
    defineEvent, omitFields, infoDb, infoTable, fnBreadth, fnBreadth2, scriptFor,
    mutMergeThing, idiomMethods, fnArray2, fnString2, linkGroup, fnTime2, vectorOps2, fnParse2, fnFormat, fnObject2, fnSimilarity, fnFuzzy, fnAggStats2, fnArray3, splitMulti, explainSpark,
    recursionSurql, recursionShortest, recursionCollect, recursionPath, indexCount,
    aggArrayCollect, fnTopBottom, fnValidators, fnClosures, fnDuration, idiomPaths, idiomArrayFilter, fnParse,
    textTokens, textQuality, textLangId, dedupExact, textFingerprint, vectorOps,
    fnR18Edges, fnR19Crypto, fnR19Edges, fnR19Edges2, fnR20FloatFmt, fnR20Parse, fnR20Cast)
}
