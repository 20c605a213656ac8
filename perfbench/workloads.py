"""The workloads' fixed settings, shared by the driving script (run.py)
and the change-capture generator (gen.py). Nothing here is a knob: every
run of a workload uses these values; only the seed and the length of the
measured window come from the command line."""

# The six change-capture topics, in the order of CrmlsStreamMain's flags.
TOPICS = ["listings", "agents", "openhouses", "offices", "media", "history"]

# Seeded key universe of the streaming workloads: every key is written
# once before the job starts; live and backlog rows update these keys.
UNIVERSE = {"listings": 1000, "agents": 100, "offices": 20,
            "openhouses": 200, "media": 400, "history": 400}

# Live mixes: share of rows per topic.
MIXES = {
    "listing": {"listings": 0.80, "media": 0.07, "history": 0.07,
                "openhouses": 0.06},
    "dim_fanout": {"agents": 0.50, "offices": 0.20, "listings": 0.15,
                   "media": 0.05, "history": 0.05, "openhouses": 0.05},
}

# Open-loop live input: rows per second, published every LIVE_TICK_MS
# (as often as the job's 100 ms trigger fires, so batch work, not the
# publish schedule, sets latency). Warm-up ticks precede the measured
# window until the job's batch times stop falling (the JIT has
# settled), for at least LIVE_WARM_MIN_S and at most LIVE_WARM_MAX_S.
LIVE_RATE = 50.0
LIVE_TICK_MS = 100.0
LIVE_WARM_MIN_S = 15.0
LIVE_WARM_MAX_S = 30.0

# Backlog of the catch-up workload: one batch past the 50,000-row
# driver tier.
BACKLOG_ROWS = 60000

# Catalog workload: table scale of datagen.py, and the catalog rows whose
# driver query covers a reference operator.
CATALOG_SCALE = 0.01
CATALOG_QUERIES = [
    "q_json_extract", "q_scalar", "q_multijoin", "q_starjoin",
    "q_innerjoin", "q_dedup_latest", "q_dedup_one", "q_count_join",
    "q_tumbling", "q_asof", "q_window_running", "q_window_rank",
    "q_groupconcat", "q_sliding", "q_session", "q_semijoin", "q_antijoin",
    "q_topk", "q_intersect", "q_except", "q_union"]
