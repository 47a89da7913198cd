-- Contact view over the staged customer file; qualified names like a
-- script written for a DuckDB schema.
create or replace view stg.customer_vw as
select id, name, email, referenced_by
from stg.customer
where status = 'active'
