# Round rituals. ROUND selects the artifact suffix (e.g. make ROUND=05
# correctness-local).
ROUND ?= 05
SF_DIR ?= /root/testdata/sf0.01

.PHONY: test correctness-local bench

# The tier-1 gate, verbatim from ROADMAP.md.
test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

# The HEAD ritual (VERDICT r4 #4): regenerate the full-registry local
# oracle artifact as the round's FINAL commit, so its green claim is
# pinned to the round HEAD instead of going stale mid-round.
correctness-local:
	python tools/check_oracle.py --json CORRECTNESS_LOCAL_r$(ROUND).json $(SF_DIR)

bench:
	python bench.py
