#!/bin/sh
# Runs the search-path specs in one offline sbt call, with the environment
# of the full test run: the IVF equivalence specs, the store and exact
# fallback specs, the keys job, the index models, the job-count pins and
# the plan pins. A change to the search path gets its equivalence and
# job-count gate from this without the whole suite.
# Run from anywhere inside the repository; extra arguments go to testOnly
# (e.g. `-- -z BINARYIVF` to run the matching tests only).
cd "$(git rev-parse --show-toplevel)" || exit 1
export COURSIER_MODE=offline
export SBT_OPTS="${SBT_OPTS:--Dsbt.override.build.repos=true -Dsbt.repository.config=$HOME/.sbt/repositories -Dsbt.offline=true -Xmx4g}"
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}"
export SPARK_DRIVER_MEM="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)}"
export SPARK_LOCAL_DIRS="${SPARK_LOCAL_DIRS:-/tmp/spark-local}"
exec sbt --batch -Dsbt.log.noformat=true "testOnly \
graft.index.IvfPqSearchSpec graft.index.VectorStoreSpec graft.index.ExactFallbackSpec \
graft.index.AllowedKeysSpec graft.IndexSpec graft.JobCountSpec graft.PlanSpec $*"
