# Container image for the floorist_spark exporter.
#
# Mirrors the reference's deployment envelope (reference Dockerfile:
# two-stage ubi9 build installing the package + entrypoint console script)
# re-based on the official Apache Spark image so the engine ships with a
# matching JVM/Spark runtime: the reference is a ~200Mi pandas process, a
# Spark driver needs the JVM and (in cluster mode) the same image on the
# executors.
#
# Build:  docker build -t floorist-spark .
# Run:    docker run -e FLOORPLAN_FILE=/tmp/floorplan/floorplan.yaml ... \
#             floorist-spark
FROM apache/spark:4.1.2-python3

USER root

WORKDIR /opt/app-root

COPY pyproject.toml ./
COPY floorist_spark ./floorist_spark

RUN pip install --no-cache-dir . && chown -R 185:0 /opt/app-root

# 185 is the spark user in the official image (non-root, like the
# reference's USER 1001)
USER 185

# The reference's entrypoint is the floorist console script reading
# FLOORPLAN_FILE + POSTGRES_*/AWS_* env (reference src/floorist/main.py);
# ours is the same contract via the packaged CLI (pyproject [project.scripts]).
ENTRYPOINT ["floorist-spark"]
