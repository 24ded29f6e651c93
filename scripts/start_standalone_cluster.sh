#!/bin/bash
# start a localhost standalone cluster: 1 master + $1 one-core workers
set -e
NW=${1:-8}
export SPARK_HOME=/root/.pyenv/versions/3.11.7/lib/python3.11/site-packages/pyspark
JARS=$SPARK_HOME/jars
JAVA=/usr/lib/jvm/java-17-openjdk-amd64/bin/java
export SPARK_SCALA_VERSION=2.13
nohup $JAVA -Xmx800m -cp "$JARS/*" org.apache.spark.deploy.master.Master \
  --host 127.0.0.1 --port 7077 --webui-port 8091 > /tmp/spark-master.log 2>&1 &
sleep 5
for i in $(seq 1 $NW); do
  mkdir -p /tmp/spark-worker-$i
  nohup $JAVA -Xmx600m -cp "$JARS/*" org.apache.spark.deploy.worker.Worker \
    --cores 1 --memory 3g --webui-port $((8100+i)) \
    --work-dir /tmp/spark-worker-$i \
    spark://127.0.0.1:7077 > /tmp/spark-worker-$i.log 2>&1 &
done
# wait up to 60 s for every worker to register with the master
for _ in $(seq 1 60); do
  REG=$(grep -c "Registering worker" /tmp/spark-master.log || true)
  [ "$REG" -ge "$NW" ] && break
  sleep 1
done
echo "$REG of $NW workers registered"
if [ "$REG" -lt "$NW" ]; then
  echo "only $REG of $NW workers registered within 60 s; see /tmp/spark-worker-*.log" >&2
  exit 1
fi
