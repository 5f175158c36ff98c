# --add-opens flags Spark needs on JDK 17 when a SparkSession starts
# outside spark-submit; the same list build.sbt passes to forked runs.
# Source this file, then pass $OPENS unquoted to java.
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
    java.util java.util.concurrent java.util.concurrent.atomic sun.nio.ch \
    sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
