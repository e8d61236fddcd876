-- interval: PT1M
-- Returns report over lineitem, written as parquet.
CREATE OR REPLACE TEMPORARY VIEW li USING parquet
  OPTIONS (path '__DATA__/lineitem.parquet');
INSERT OVERWRITE DIRECTORY '__OUT__/sql_report' USING parquet
SELECT l_returnflag, l_linestatus, count(*) AS n,
  CAST(sum(l_quantity) AS DOUBLE) AS qty
FROM li GROUP BY l_returnflag, l_linestatus;
