"""Seeded generator of the 13 `fc_*` source tables of the ETL cycle, with a
time axis.

Every row carries its final state: a scenario's whole lifecycle, a node or
event input version's close-out (SCD2 chains of 1-3 versions), a run's
completion with its branches and node calculations. The benchmark JVM then
serves the program the as-of view of these tables at each simulated
horizon (perfbench.AsOf), so lifecycle transitions, close-outs and run
completions arrive as updates. Column names and types follow
`graft.demo.ReferenceFixtures`. The same seed gives identical tables.
"""
import datetime as dt
import random

import pyarrow as pa
import pyarrow.parquet as pq

TICK_MS = 30_000
T0_MS = int(dt.datetime(2025, 1, 6, tzinfo=dt.timezone.utc).timestamp() * 1000)
MODELS, NODES, EVENT_TYPES, GROUPS = 4, 1000, 4, 12
# arrivals per 30 s tick; every run has `branches` × `calcs` node calculations
RATES = {"scenarios": 10, "node_versions": 1000, "event_versions": 300, "runs": 20,
         "branches": 2, "calcs": 5}

S, B, I32 = pa.string(), pa.bool_(), pa.int32()
TS = pa.timestamp("us", tz="UTC")


def _ts(ms):
    return pa.array([None if m is None else m * 1000 for m in ms], pa.int64()).cast(TS)


def _write(out, name, cols, types):
    arrays = [_ts(v) if t == TS else pa.array(v, t) for v, t in zip(cols.values(), types)]
    pq.write_table(pa.Table.from_arrays(arrays, names=list(cols)), f"{out}/{name}.parquet")
    return len(arrays[0])


def _id(prefix, i):
    return f"{prefix}-{i:09d}"


def generate(out, seed, ticks):
    """Writes one parquet file per table under `out`; returns row counts."""
    scenarios, node_versions, event_versions, runs, branches, calcs = RATES.values()
    rnd = lambda salt: random.Random(seed * 1_000_003 + salt)  # noqa: E731
    end_ms = T0_MS + ticks * TICK_MS
    n = {}
    day = 86_400_000
    n["fc_model"] = _write(out, "fc_model", {
        "id": [f"m{i}" for i in range(MODELS)],
        "model_display_name": [f"Model {i}" for i in range(MODELS)],
        "model_type": ["patient_based" if i % 2 == 0 else "epi_based" for i in range(MODELS)],
        "model_publish_level": ["draft" if i == 3 else "published" for i in range(MODELS)],
        "therapeutic_area_name": [f"TA {i}" for i in range(MODELS)],
        "model_disease_area_name": [f"Disease {i}" for i in range(MODELS)],
        "has_inherent_event": [i % 2 == 0 for i in range(MODELS)],
        "model_region_display_name": ["Global" if i % 2 == 0 else "EU" for i in range(MODELS)],
        "model_country_display_name": [f"C{i}" for i in range(MODELS)]}, [S, S, S, S, S, S, B, S, S])
    n["fc_forecast_init"] = _write(out, "fc_forecast_init", {
        "id": ["fi1", "fi2"], "forecast_cycle_display_name": ["FC-2025-H1", "FC-2025-H2"],
        "forecast_cycle_start_dt": [T0_MS - 30 * day, T0_MS - 10 * day],
        "forecast_cycle_end_dt": [T0_MS + 150 * day, T0_MS + 170 * day],
        "horizon_start_limit": [2025, 2026], "horizon_end_limit": [2040, 2045],
        "starter_created": [True, False]}, [S, S, TS, TS, I32, I32, B])
    n["fc_model_node_tab"] = _write(out, "fc_model_node_tab", {
        "id": ["t1", "t2", "t3"], "tab_display_name": ["Epidemiology", "Market Share", "Pricing"],
        "tab_level": [1, 2, 3]}, [S, S, I32])
    n["fc_model_node_groups"] = _write(out, "fc_model_node_groups", {
        "id": [f"g{g}" for g in range(GROUPS)],
        "group_display_name": [f"Group {g}" for g in range(GROUPS)],
        "group_type": [("demographic", "epi", "commercial")[g % 3] for g in range(GROUPS)],
        "model_node_tab_id": [f"t{1 + g % 3}" for g in range(GROUPS)]}, [S, S, S, S])
    n["fc_model_node"] = _write(out, "fc_model_node", {
        "id": [f"n{i}" for i in range(NODES)],
        "node_display_name": [f"Node {i}" for i in range(NODES)],
        "node_type": ["input" if i % 2 == 0 else "calculated" for i in range(NODES)],
        "node_seq": list(range(NODES)),
        "flow": ["outflow" if i % 3 == 0 else "inflow" for i in range(NODES)],
        "model_node_group_id": [f"g{i % GROUPS}" for i in range(NODES)]}, [S, S, S, I32, S, S])
    n["fc_event_type"] = _write(out, "fc_event_type", {
        "id": [f"et{i}" for i in range(EVENT_TYPES)],
        "display_name": ["LOE", "Launch", "Pricing", "Access"],
        "inherent": [i % 2 == 0 for i in range(EVENT_TYPES)]}, [S, S, B])

    # scenarios: evenly spread arrivals, each with its whole lifecycle
    n_scen = ticks * scenarios
    r = rnd(1)
    sc = {k: [] for k in (
        "id", "scenario_display_name", "status", "is_starter", "currency", "currency_code",
        "scenario_start_year", "scenario_end_year", "scenario_region_name",
        "scenario_country_name", "created_at", "created_by", "submitted_at", "submitted_by",
        "locked_at", "locked_by", "updated_at", "updated_by", "withdraw_at", "withdraw_by",
        "delete_at", "model_id", "forecast_init_id")}
    created_at = []
    for i in range(n_scen):
        created = T0_MS + i * TICK_MS // scenarios + r.randrange(2000)
        created_at.append(created)
        submitted = created + 60_000 + r.randrange(900_000) if r.randrange(10) < 6 else None
        locked = (submitted + 60_000 + r.randrange(900_000)
                  if submitted and r.randrange(2) == 0 else None)
        withdrawn = created + 120_000 + r.randrange(1_800_000) if r.randrange(10) == 0 else None
        user = f"user{r.randrange(40)}"
        for k, v in (("id", _id("sc", i)), ("scenario_display_name", f"Scenario {i}"),
                     ("status", "draft"), ("is_starter", i % 7 == 0),
                     ("currency", "US Dollar"), ("currency_code", "USD"),
                     ("scenario_start_year", 2025 + i % 3), ("scenario_end_year", 2035 + i % 5),
                     ("scenario_region_name", "Global" if i % 3 == 0 else "EU"),
                     ("scenario_country_name", None if i % 3 == 0 else f"C{i % 4}"),
                     ("created_at", created), ("created_by", user),
                     ("submitted_at", submitted), ("submitted_by", user if submitted else None),
                     ("locked_at", locked), ("locked_by", "approver" if locked else None),
                     ("updated_at", created), ("updated_by", user),
                     ("withdraw_at", withdrawn), ("withdraw_by", "admin" if withdrawn else None),
                     ("delete_at", None), ("model_id", f"m{i % MODELS}"),
                     ("forecast_init_id", f"fi{1 + i % 2}")):
            sc[k].append(v)
    n["fc_scenario"] = _write(out, "fc_scenario", sc, [
        S, S, S, B, S, S, I32, I32, S, S, TS, S, TS, S, TS, S, TS, S, TS, S, TS, S, S])

    def recent_scenario(rr, ms):
        """One of the last 40 scenarios created before `ms`."""
        hi = min(n_scen - 1, (ms - T0_MS) * scenarios // TICK_MS)
        while hi > 0 and created_at[hi] >= ms:
            hi -= 1
        return hi - rr.randrange(min(40, hi + 1))

    set_ids = [_id(f"set{k}", s) for s in range(n_scen) for k in range(EVENT_TYPES)]
    n["fc_scenario_event_type"] = _write(out, "fc_scenario_event_type", {
        "id": set_ids,
        "scenario_id": [_id("sc", s) for s in range(n_scen) for _ in range(EVENT_TYPES)],
        "event_type_id": [f"et{k}" for _ in range(n_scen) for k in range(EVENT_TYPES)]},
        [S, S, S])

    def chains(salt, per_tick):
        """SCD2 version chains; each version is closed by the next one.
        Returns (created, ended, scenario, slot, chain, version) by creation."""
        rr = rnd(salt)
        slots = [0] * n_scen
        n_chains = ticks * per_tick // 2  # mean chain length 2
        out_rows = []
        for c in range(n_chains):
            start = T0_MS + 1000 + c * (ticks * TICK_MS) // n_chains + rr.randrange(500)
            scen = recent_scenario(rr, start)
            slot = slots[scen]
            slots[scen] += 1
            length = 1 + rr.randrange(3)
            created, v = start, 0
            while v < length and created < end_ms:
                nxt = created + 30_000 + rr.randrange(270_000)
                ended = nxt if v + 1 < length and nxt < end_ms else None
                out_rows.append((created, ended, scen, slot, c, v))
                created, v = nxt, v + 1
        return sorted(out_rows, key=lambda x: (x[0], x[4]))

    input_json = [
        lambda q: f'{{"value": "{q.random() * 100:.3f}", "unit": "mg", "start_year": {2024 + q.randrange(6)}, "actuals_flag": "yes"}}',
        lambda q: f'{{"value": {q.randrange(1000)}, "unit": "pct", "start_year": "{2025 + q.randrange(5)}", "end_year": {2035 + q.randrange(5)}, "actuals_flag": true, "extra_key": 1}}',
        lambda q: f'{{"value": {q.random() * 10:.2f}, "actuals_flag": "0", "pfs_flag": "1", "curve_type": "linear", "timeframe": "annual"}}',
        lambda q: '{"value": null, "unit": null, "input_type": "manual", "dosing_type": "fixed"}',
        lambda q: "not-valid-json"]
    r = rnd(2)
    nd = {k: [] for k in ("id", "scenario_id", "model_node_id", "input_data", "input_hash",
                          "input_validated", "input_validation_message", "source",
                          "created_at", "end_at", "created_by")}
    for i, (created, ended, scen, slot, c, v) in enumerate(chains(3, node_versions)):
        nid = _id("nd", i)
        for k, x in (("id", nid), ("scenario_id", _id("sc", scen)),
                     ("model_node_id", f"n{slot % NODES}"),
                     ("input_data", r.choice(input_json)(r)), ("input_hash", f"h-{c}-{v}"),
                     ("input_validated", r.randrange(3) > 0),
                     ("input_validation_message", f"check {nid}" if r.randrange(5) == 0 else None),
                     ("source", "import" if r.randrange(4) == 0 else "user_input"),
                     ("created_at", created), ("end_at", ended),
                     ("created_by", f"user{r.randrange(40)}")):
            nd[k].append(x)
    n["fc_scenario_node_data"] = _write(out, "fc_scenario_node_data", nd,
                                        [S, S, S, S, S, B, S, S, TS, TS, S])

    event_json = [
        lambda q: f'{{"year": {2026 + q.randrange(8)}, "share_value": "{q.random():.4f}", "steady_state": "0.9"}}',
        lambda q: f'{{"year": "{2027 + q.randrange(8)}", "share_value": {q.random():.4f}, "erosion_rate": 0.8, "entry_quarter": "Q{1 + q.randrange(4)}"}}',
        lambda q: f'{{"launch_date": "2027-0{1 + q.randrange(9)}-01", "sob_value": {q.randrange(100)}}}',
        lambda q: "broken{"]
    r = rnd(4)
    ed = {k: [] for k in ("id", "scenario_event_type_id", "event_data", "event_data_hash",
                          "is_overridden", "event_shares_overridden", "is_validated",
                          "input_validation_message", "population_node_id",
                          "parent_product_node_id", "created_at", "end_at", "created_by")}
    for i, (created, ended, scen, slot, c, v) in enumerate(chains(5, event_versions)):
        for k, x in (("id", _id("ed", i)), ("scenario_event_type_id", _id(f"set{slot % EVENT_TYPES}", scen)),
                     ("event_data", r.choice(event_json)(r)), ("event_data_hash", f"eh-{c}-{v}"),
                     ("is_overridden", r.randrange(3) == 0),
                     ("event_shares_overridden",
                      f'{{"override": {r.randrange(100)}}}' if r.randrange(3) == 0 else None),
                     ("is_validated", r.randrange(2) == 0), ("input_validation_message", None),
                     # one chain per (scenario, event type, population node)
                     ("population_node_id", f"n{(slot // EVENT_TYPES) % NODES}"),
                     ("parent_product_node_id",
                      f"n{r.randrange(NODES)}" if r.randrange(4) == 0 else None),
                     ("created_at", created), ("end_at", ended),
                     ("created_by", f"user{r.randrange(40)}")):
            ed[k].append(x)
    n["fc_scenario_event_data"] = _write(out, "fc_scenario_event_data", ed,
                                         [S, S, S, S, B, S, B, S, S, S, TS, TS, S])

    # runs complete 20 s - 5 min after they start; calcs land while running
    r = rnd(6)
    run = {k: [] for k in ("id", "scenario_id", "run_status", "run_at", "run_by",
                           "run_complete_at", "fail_reason")}
    br = {"id": [], "scenario_run_id": [], "event_tag": []}
    nc = {k: [] for k in ("id", "scenario_run_branch_id", "model_node_id", "status",
                          "fail_reason", "processing_start_at", "processing_end_at",
                          "output_data", "created_at")}
    for ri in range(ticks * runs):
        run_at = T0_MS + 2000 + ri * TICK_MS // runs + r.randrange(1000)
        complete = run_at + 20_000 + r.randrange(280_000)
        failed = r.randrange(8) == 0
        rid = _id("run", ri)
        for k, x in (("id", rid), ("scenario_id", _id("sc", recent_scenario(r, run_at))),
                     ("run_status", "failed" if failed else "success"), ("run_at", run_at),
                     ("run_by", f"user{r.randrange(40)}"), ("run_complete_at", complete),
                     ("fail_reason", f"error {r.randrange(50)}" if failed else None)):
            run[k].append(x)
        for b in range(branches):
            bid = f"{rid}-b{b}"
            br["id"].append(bid)
            br["scenario_run_id"].append(rid)
            br["event_tag"].append(f"tag{b}")
            for c in range(calcs):
                created = run_at + (complete - run_at) * (c + 1) // (calcs + 1) + b
                status = ("success", "success", "success", "failed", "timeout")[r.randrange(5)]
                for k, x in (("id", f"{bid}-c{c}"), ("scenario_run_branch_id", bid),
                             ("model_node_id", f"n{r.randrange(NODES)}"), ("status", status),
                             ("fail_reason", "calc blew up" if status == "failed" else None),
                             ("processing_start_at", created - 500 - r.randrange(5000)),
                             ("processing_end_at", created),
                             ("output_data", f'{{"result": {r.randrange(100000)}}}'),
                             ("created_at", created)):
                    nc[k].append(x)
    n["fc_scenario_run"] = _write(out, "fc_scenario_run", run, [S, S, S, TS, S, TS, S])
    n["fc_scenario_run_branch"] = _write(out, "fc_scenario_run_branch", br, [S, S, S])
    n["fc_scenario_node_calc"] = _write(out, "fc_scenario_node_calc", nc,
                                        [S, S, S, S, S, TS, TS, S, TS])
    return n
